package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuous-ingestion EXACT substring screening: the streaming face of
  * [[graft.operators.Dedup.substringDedup]], completing the family's
  * lifecycle (batch → incremental [substringDedupIncremental] →
  * streaming) exactly as the winnowing screen's [[WinnowStream]] does
  * for the probabilistic complement.
  *
  * Each microbatch of documents is (1) grammed with the shared
  * `Dedup.gramRows` (the canonical-text k-gram position table), (2)
  * screened against every PREVIOUS batch's grams via a raw-gram
  * equi-join against the persistent index — plus a batch-internal
  * self-join — with matched positions island-merged into maximal spans
  * by the shared `Dedup.mergeSpans`, and (3) appended to the index, so
  * batch N+1 sees batch N. The index stores the gram position table
  * (exactness has a price: ~k× the text bytes, the [[graft.operators
  * .Dedup.buildGramIndex]] trade stated there), but historical document
  * TEXT is never re-read or re-grammed.
  *
  * Contract (pinned by StreamingSpec): batch N's emitted spans equal
  * the BATCH operator run over the corpus-so-far, restricted by
  * MEMBERSHIP — pairs with at least one member in batch N and not both
  * members prior (spans are canonicalized least/greatest with positions
  * following the swap, so non-monotone doc_ids orient correctly — the
  * WinnowStream r12 contract wording). The gram df cap is recomputed
  * over the full current index each batch: rarity priced as of NOW.
  * Earlier batches' spans are append-only history (at-arrival
  * semantics; a gram that later turns boilerplate does not retract
  * them).
  *
  * Idempotence: both writes are per-batch overwrites, and a replayed
  * batch screens only earlier batches — the [[Microbatch]] discipline.
  */
object SubstringStream {

  /** @param docs      streaming frame with doc_id and text columns
    * @param indexDir  persistent gram-position index (grows per batch)
    * @param spansDir  span output (doc_a, doc_b, start_a, start_b, match_len)
    */
  def start(docs: DataFrame, indexDir: String, spansDir: String,
            checkpointDir: String, k: Int = 16, dfCap: Long = 100,
            minLen: Long = 32): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      val newGrams = Dedup.gramRows(batch, k)
        .localCheckpoint(true) // screen + df census + index append
      val prior = Microbatch.prior(indexDir, batchId, newGrams)
      // rarity over the WHOLE current corpus — the batch operator's
      // df-cap semantics as of this batch
      val all = prior.unionByName(newGrams)
      val rare = all.select(col("gram"), col("doc_id")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select(col("gram"))
      val newIds = newGrams.select(col("doc_id")).distinct()
      val keptNew = newGrams.join(rare, Seq("gram"))
      val keptPrior = all.join(rare, Seq("gram"))
        .join(newIds, Seq("doc_id"), "left_anti")
      // canonical least/greatest orientation with positions following
      // the swap — a non-monotone arrival pairs correctly with a
      // LARGER prior id
      val cross = keptPrior.as("a").join(keptNew.as("b"),
          col("a.gram") === col("b.gram"))
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          when(col("a.doc_id") < col("b.doc_id"), col("a.pos"))
            .otherwise(col("b.pos")).as("pa"),
          when(col("a.doc_id") < col("b.doc_id"), col("b.pos"))
            .otherwise(col("a.pos")).as("pb"))
      val intra = keptNew.as("a").join(keptNew.as("b"),
          col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pos").as("pa"), col("b.pos").as("pb"))
      val spans = Dedup.mergeSpans(cross.unionByName(intra), k, minLen)
      Microbatch.write(spans, spansDir, batchId)
      Microbatch.write(newGrams, indexDir, batchId)
    }
}
