package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuous-ingestion Bloom screening: the streaming face of
  * [[Dedup.bloomScreen]], and the cheap front gate ahead of
  * [[DedupStream]]'s full band-join verify.
  *
  * Each microbatch of documents is (1) banded with the same MinHash
  * machinery the batch operators use, (2) screened map-side against a
  * Bloom bitset REBUILT from the persistent position set of every
  * PREVIOUS batch — a [[graft.functions.BloomBitset]] aggregate whose
  * broadcast result replaces any join against history — and (3) its own
  * distinct band positions appended, so batch N+1 sees batch N. Docs
  * whose every position of some band is already set are emitted as
  * near-dup candidates for the verify path; Bloom semantics guarantee no
  * candidate is ever MISSED (false negatives impossible), so the screen
  * can only cost extra verification, never correctness.
  *
  * State is the distinct-position set (at most nBits rows, ~8 KiB of
  * information regardless of corpus size) — the stream's memory of a
  * 100 TB history stays constant-size. Idempotence is the [[Microbatch]]
  * discipline: both writes are per-batch overwrites, and a replayed
  * batch never screens against its own earlier attempt.
  */
object BloomScreenStream {

  /** @param docs       streaming frame with doc_id and text columns
    * @param filterDir  persistent distinct-position parquet (grows per batch,
    *                   bounded by nBits rows)
    * @param flaggedDir candidate doc_ids output, one dir per batch
    */
  def start(docs: DataFrame, filterDir: String, flaggedDir: String,
            checkpointDir: String, nBits: Int = 65536): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      val newBands = Dedup.bandSigRows(batch)
        .select(col("doc_id"),
          concat(col("band_idx").cast("string"), col("band_val")).as("bkey"))
        .withColumn("positions",
          expr(s"array(${Dedup.bloomPositions("bkey").mkString(", ")})"))
        .localCheckpoint(true)
      val newPositions = newBands.select(explode(col("positions")).as("pos")).distinct()
      val prior = Microbatch.prior(filterDir, batchId, newPositions)
      val bloomAgg = udaf(new graft.functions.BloomBitset(nBits),
        org.apache.spark.sql.Encoders.scalaLong)
      // a global typed aggregate over zero rows yields finish(zero) —
      // the all-clear bitset — so the first batch needs no special case
      val bits = prior.agg(bloomAgg(col("pos")).as("bits"))
      val flagged = newBands
        .crossJoin(broadcast(bits))
        .withColumn("band_hit", expr(
          """forall(positions, p ->
             (element_at(bits, CAST(p DIV 64 AS INT) + 1)
              & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) <> 0)"""))
        .groupBy(col("doc_id"))
        .agg(max(col("band_hit")).as("bloom_hit"))
        .filter(col("bloom_hit"))
        .select(col("doc_id"))
      Microbatch.write(flagged, flaggedDir, batchId)
      Microbatch.write(newPositions, filterDir, batchId)
    }
}
