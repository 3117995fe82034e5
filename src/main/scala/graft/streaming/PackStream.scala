package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Continuous sequence packing: the streaming face of
  * [[graft.operators.Curation.packSequencesSlice]].
  *
  * Each microbatch of documents (doc_ids append-monotone across batches,
  * as ingestion ids are) is packed as a CONTINUATION of every source's
  * token stream: the batch's window cumsum starts from the per-source
  * offsets accumulated by all PRIOR batches, so sequence ids line up
  * exactly with what a from-scratch batch pack of the whole corpus would
  * assign — union the per-batch outputs, merge the boundary sequences,
  * and the result is bit-identical ([[StreamingSpec]] proves it).
  *
  * Replay safety: a failed-and-replayed microbatch must not double-count
  * offsets, so offsets are NOT kept as one mutable running total.
  * Instead each batch overwrites its OWN per-source totals under
  * `offsets/`, and a batch derives its starting offsets by summing
  * strictly-prior batches' totals — the [[Microbatch]] discipline. Both
  * writes are tiny: packed rows are delta_tokens/budget, offsets are one
  * row per source.
  */
object PackStream {

  def start(docs: DataFrame, outDir: String, checkpointDir: String,
            budget: Int = 512): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsetsDir = s"$outDir/offsets"
      val base = Microbatch.prior(offsetsDir, batchId,
          batch.select(col("source"), lit(0L).as("batch_tokens")))
        .groupBy(col("source"))
        .agg(sum(col("batch_tokens")).as("base_tokens"))
      val packed = batch
        .withColumn("n_tokens",
          expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)"))
        .withColumn("local_strt", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .join(broadcast(base), Seq("source"), "left")
        .withColumn("strt", col("local_strt") + coalesce(col("base_tokens"), lit(0L)))
        .withColumn("seq_id", expr(s"strt DIV $budget"))
        .groupBy(col("source"), col("seq_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .localCheckpoint(true) // consumed twice: packed rows + totals
      Microbatch.write(packed, s"$outDir/packed", batchId)
      val totals = packed.groupBy(col("source"))
        .agg(sum(col("seq_tokens")).as("batch_tokens"))
      Microbatch.write(totals, offsetsDir, batchId)
    }
}
