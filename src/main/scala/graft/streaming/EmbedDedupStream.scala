package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous embedding near-dup screening: the streaming face of
  * Similarity.embeddingLshPairs, and the embedding sibling of DedupStream.
  *
  * Each microbatch of (vec_id, embedding) rows is (1) hyperplane-signed
  * and banded with the same machinery the batch operator uses
  * (lshSignaturesOf: 16 bits, 2 bands of 8), (2) screened for near-dups
  * against every PREVIOUS batch via a band equi-join against the
  * persistent index — plus a batch-internal self-join — with the exact
  * micro-cosine verifying only bucket collisions (the index carries each
  * vector's embedding and norm, so verification never re-reads history),
  * and (3) appended, so batch N+1 sees batch N.
  *
  * Idempotence: both writes are per-batch overwrites, and a replayed
  * batch screens only earlier batches — the [[Microbatch]] discipline.
  * Pairs are least/greatest-normalized so keep-first consumers can drop
  * vec_b regardless of arrival order; cosine is symmetric, so the
  * payload sides need no swap.
  */
object EmbedDedupStream {

  /** @param vectors        streaming frame with vec_id and embedding columns
    * @param indexDir       persistent band+payload index (grows per batch)
    * @param pairsDir       flagged near-dup pairs output
    * @param checkpointDir  streaming checkpoint location
    * @param minScoreMicros micro-cosine floor for a flagged pair
    */
  def start(vectors: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, minScoreMicros: Long = 300000L): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val withNorm = batch
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      // one row per (vector, band), payload carried alongside — computed
      // once, used for screening AND the index append
      val newRows = Similarity.lshSignaturesOf(batch)
        .selectExpr("vec_id",
          "stack(2, 0, sig & 255, 1, (sig >> 8) & 255) AS (band_idx, band_val)")
        .join(withNorm, Seq("vec_id"))
        .select(col("vec_id"), col("band_idx"), col("band_val"),
          col("embedding"), col("vnorm"))
        .localCheckpoint(true)
      val index = Microbatch.prior(indexDir, batchId, newRows)
      val cross = index.as("a").join(newRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
          col("a.embedding").as("ea"), col("a.vnorm").as("na"),
          col("b.embedding").as("eb"), col("b.vnorm").as("nb"))
      val intra = newRows.as("a").join(newRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.embedding").as("ea"), col("a.vnorm").as("na"),
          col("b.embedding").as("eb"), col("b.vnorm").as("nb"))
      val flagged = cross.unionByName(intra)
        .withColumn("m", expr(Similarity.scoreMicrosFromNorms(
          "dot_f(ea, eb)", "na", "nb")))
        .filter(col("m") >= minScoreMicros)
        .select(col("vec_a"), col("vec_b"), expr(Similarity.Micro4).as("score"))
        .distinct() // a pair hit via both bands carries an identical score
      Microbatch.write(flagged, pairsDir, batchId)
      Microbatch.write(newRows, indexDir, batchId)
    }
}
