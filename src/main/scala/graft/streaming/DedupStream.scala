package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuous-ingestion near-dup screening: the streaming face of the
  * materialized LSH band index.
  *
  * Each microbatch of documents is (1) banded and signed with the same
  * MinHash machinery the batch operators use (Dedup.bandSigRows), (2)
  * screened for near-dups against every PREVIOUS batch via a band
  * equi-join against the persistent index — plus a batch-internal
  * self-join — and (3) appended to the index, so batch N+1 sees batch N.
  * Similarity is decided by the MinHash ESTIMATOR (matching signature
  * slots / 12): the index stores signatures, so screening never re-reads
  * historical document text — the property that makes this viable when
  * the corpus no longer fits anywhere.
  *
  * Idempotence: both writes are per-batch overwrites through
  * [[Microbatch]], so a microbatch replayed after a failure rewrites its
  * own output instead of duplicating it, and its screen reads only
  * earlier batches — its own failed attempt's rows would emit every pair
  * in both orientations. At 100 TB the per-batch index append is a
  * partitioned parquet write of (delta × bands) narrow rows.
  */
object DedupStream {

  /** @param docs       streaming frame with doc_id and text columns
    * @param indexDir   persistent band+signature index (grows per batch)
    * @param pairsDir   flagged near-dup pairs output
    * @param minMatching slots (of 12) that must agree; 9/12 ≈ Jaccard 0.75
    */
  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, minMatching: Int = 9): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      // computed once, used for screening AND the index append
      val newRows = Dedup.bandSigRows(batch).localCheckpoint(true)
      val index = Microbatch.prior(indexDir, batchId, newRows)
      // cross: every prior doc sharing a band with a new doc. Output
      // pairs are least/greatest-normalized like every batch dedup
      // operator (keep-first consumers drop doc_b = the GREATER id, so
      // orientation must not depend on arrival order); n_matching is
      // symmetric in (sa, sb), so the signature sides need no swap.
      val cross = index.as("a").join(newRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      // intra-batch pairs, each once
      val intra = newRows.as("a").join(newRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      val flagged = cross.unionByName(intra)
        .distinct() // a pair hit via several bands carries identical sigs
        .withColumn("n_matching", expr(
          "aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"))
        .filter(col("n_matching") >= minMatching)
        .select(col("doc_a"), col("doc_b"), col("n_matching"))
      Microbatch.write(flagged, pairsDir, batchId)
      Microbatch.write(newRows, indexDir, batchId)
    }
}
