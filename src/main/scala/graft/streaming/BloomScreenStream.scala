package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.Tables

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
  * 100 TB history stays constant-size. Idempotence mirrors DedupStream:
  * both writes land under `batch=<id>` with overwrite, and a replayed
  * batch never screens against its own earlier attempt (`batch < id`).
  */
object BloomScreenStream {

  /** @param docs       streaming frame with doc_id and text columns
    * @param filterDir  persistent distinct-position parquet (grows per batch,
    *                   bounded by nBits rows)
    * @param flaggedDir candidate doc_ids output, one dir per batch
    */
  def start(docs: DataFrame, filterDir: String, flaggedDir: String,
            checkpointDir: String, nBits: Int = 65536): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val newBands = Dedup.bandSigRows(batch)
          .select(col("doc_id"),
            concat(col("band_idx").cast("string"), col("band_val")).as("bkey"))
          .withColumn("positions",
            expr(s"array(${Dedup.bloomPositions("bkey").mkString(", ")})"))
          .localCheckpoint(true)
        val fs = new Path(filterDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val prior =
          if (fs.exists(new Path(filterDir)))
            Tables.parquet(s, filterDir)
              .filter(col("batch") < batchId).select("pos")
          else newBands.select(explode(col("positions")).as("pos")).limit(0)
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
        flagged.write.mode("overwrite").parquet(s"$flaggedDir/batch=$batchId")
        newBands.select(explode(col("positions")).as("pos")).distinct()
          .write.mode("overwrite").parquet(s"$filterDir/batch=$batchId")
      }
      .start()
}
