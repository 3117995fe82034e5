package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous bitext mining: the streaming face of
  * [[graft.operators.Similarity.bitextMarginMine]] — a crawl stream of
  * new A-side documents mined against a STAGED counter-corpus B, with
  * the CSLS hubness denominators kept honest across batches by a
  * persistent per-B top-k index.
  *
  * The margin's forward half (a's own k-NN cosines into B) depends only
  * on the batch and the frozen corpus; the backward half (b's k-NN
  * cosines into the A seen SO FAR) is the part a naive per-batch rerun
  * would get wrong — a hub b looks rare in every small batch. Top-k is
  * MERGEABLE: a pair outside its own batch's per-b top-k is dominated
  * there and can never enter the corpus-so-far top-k, so the index
  * stores only each batch's own per-b top-k rows (≤ k rows per b per
  * batch) and each screen re-merges them — O(k · batches) per b, never
  * a rescore of historical A vectors.
  *
  * Contract (pinned by StreamingSpec): batch N's emitted matches equal
  * the BATCH operator run over (A-so-far, B), restricted to a_ids in
  * batch N — equality by construction, since both faces share
  * bitextMarginCore and differ only in where the backward sums come
  * from. Matches emitted by earlier batches are append-only history: a
  * b whose hubness later grows does not retract them (the at-arrival
  * semantics every streaming face here documents). A-side ids are
  * assumed unique across batches (new crawl documents).
  *
  * Idempotence: both writes are per-batch overwrites, and a replayed
  * batch merges only earlier batches' index rows — the [[Microbatch]]
  * discipline.
  */
object BitextStream {

  /** Freeze the counter-corpus (B side, (vec_id, embedding)) before the
    * first batch — the IvfStream staged-quantizer discipline: a B that
    * drifted per-batch would make margins incomparable across batches.
    */
  def stageCorpus(bSide: DataFrame, indexDir: String): Unit = {
    bSide.select(col("vec_id"), col("embedding"))
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      .write.mode("overwrite").parquet(s"$indexDir/_corpus")
  }

  /** @param vectors    streaming frame with vec_id and embedding columns
    * @param indexDir   `_corpus` (staged) + `bwd/` per-batch per-b top-k rows
    * @param matchesDir match output (a_id, match_id, cos_micro,
    *                   margin_micro, accepted) per batch
    */
  def start(vectors: DataFrame, indexDir: String, matchesDir: String,
            checkpointDir: String, k: Int = 4,
            thresholdMicro: Long = 1060000L): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val bSide = Microbatch.staged(s, indexDir, "_corpus",
          s"BitextStream needs a staged counter-corpus — run BitextStream.stageCorpus($indexDir) first")
        .select(col("vec_id").as("b_id"), col("embedding").as("bv"),
          col("vnorm").as("bn"))
      val aSide = batch
        .withColumn("an", expr("sqrt(dot_f(embedding, embedding))"))
        .select(col("vec_id").as("a_id"), col("embedding").as("av"),
          col("an"))
      val scored = Similarity.bitextScored(aSide, bSide)
      // this batch's own per-b top-k — the only rows the index needs
      val enc = org.apache.spark.sql.Encoders
        .product[graft.functions.ScoredNeighbor]
      val topk = udaf(new graft.functions.TopKNeighbors(k), enc)
      val batchTopK = scored.groupBy(col("b_id"))
        .agg(topk(col("m"), col("a_id")).as("nn"))
        .select(col("b_id"), posexplode(col("nn")).as(Seq("pos", "sn")))
        .select(col("b_id"), col("sn.m").as("m"), col("sn.vecId").as("a_id"))
        .localCheckpoint(true) // merged screen + index append
      val merged = Microbatch.prior(s"$indexDir/bwd", batchId, batchTopK)
        .unionByName(batchTopK)
      val bwd = Similarity.bitextKnnSums(
        merged.select(col("b_id"), col("a_id"), col("m")),
        "b_id", "a_id", "bwd_sum", "bwd_k", k)
      val matches =
        Similarity.bitextMarginCore(scored, bwd, k, thresholdMicro)
      Microbatch.write(matches, matchesDir, batchId)
      Microbatch.write(batchTopK, s"$indexDir/bwd", batchId)
    }
}
