package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Continuous-ingestion partial-copy screening: the streaming face of
  * the winnowed near-dup pair join ([[graft.operators.Dedup.winnowPairs]]).
  *
  * Each microbatch of documents is (1) winnowed with the same selection
  * machinery as the batch operator (TextAnalysis.winnowSelections — the
  * MOSS local fingerprints), (2) screened against every PREVIOUS
  * batch's fingerprints via a fingerprint equi-join against the
  * persistent index — plus a batch-internal self-join — and (3)
  * appended to the index, so batch N+1 sees batch N. The index stores
  * fingerprints only, so screening never re-reads historical document
  * text — the property that keeps this viable when the corpus no
  * longer fits anywhere.
  *
  * Contract (the incremental-dedup shape, pinned by StreamingSpec):
  * batch N's emitted pairs equal the BATCH operator run over the
  * corpus-so-far, restricted to pairs with AT LEAST ONE member in batch
  * N and not both members in prior batches (membership, not id order:
  * emitted pairs are canonicalized least/greatest, so when doc_ids do
  * not arrive monotonically a batch-N pair's greater member may predate
  * batch N — the r11 wording "pairs whose greater member arrived in N"
  * is equivalent ONLY under monotone ingestion) — the boilerplate df
  * cap and the containment denominators
  * are recomputed over the full current index each batch, so the
  * screen prices rarity as of NOW, not as of each fingerprint's first
  * arrival. Pairs emitted by earlier batches are append-only history:
  * a fingerprint that later turns boilerplate does not retract them
  * (the at-arrival semantics every streaming face here documents).
  *
  * Idempotence: both writes are per-batch overwrites, and a replayed
  * batch screens only earlier batches — the [[Microbatch]] discipline.
  */
object WinnowStream {

  /** @param docs      streaming frame with doc_id and text columns
    * @param indexDir  persistent fingerprint index (grows per batch)
    * @param pairsDir  flagged pair output (doc_a, doc_b, n_shared, overlap_1e4)
    */
  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, k: Int = 16, w: Int = 8,
            minShared: Long = 3, dfCap: Long = 100,
            overlapMin1e4: Long = 2500): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      val newFps = TextAnalysis.winnowSelections(batch, k, w)
        .select(col("doc_id"), expr("substring(wmin, 1, 32)").as("fp"))
        .distinct()
        .localCheckpoint(true) // screen + df census + index append
      val prior = Microbatch.prior(indexDir, batchId, newFps)
      // rarity and containment denominators over the WHOLE current
      // corpus — the batch operator's df-cap semantics as of this batch
      val all = prior.unionByName(newFps).localCheckpoint(true)
      val rare = all.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select(col("fp"))
      val kept = all.join(rare, Seq("fp"))
      val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val newIds = newFps.select(col("doc_id")).distinct()
      val keptNew = kept.join(newIds, Seq("doc_id"))
      val keptPrior = kept.join(newIds, Seq("doc_id"), "left_anti")
      // one row per shared KEPT fingerprint; orientation is
      // least/greatest so keep-first consumers never depend on
      // arrival order
      val cross = keptPrior.as("a").join(keptNew.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      val intra = keptNew.as("a").join(keptNew.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val flagged = cross.unionByName(intra)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("na")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")),
          Seq("doc_b"))
        .withColumn("overlap_1e4", expr(
          "CAST((20000 * n_shared + least(na, nb)) DIV (2 * least(na, nb)) AS BIGINT)"))
        .filter(col("overlap_1e4") >= overlapMin1e4)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap_1e4"))
      Microbatch.write(flagged, pairsDir, batchId)
      Microbatch.write(newFps, indexDir, batchId)
    }
}
