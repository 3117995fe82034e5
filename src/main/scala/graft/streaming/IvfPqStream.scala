package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous embedding ingestion into a materialized IVF-PQ index: the
  * streaming face of Similarity.buildIvfPqIndex, composing IvfStream's
  * frozen-quantizer routing with PqStream's frozen-codebook encoding.
  *
  * Prerequisite: BOTH quantizers are staged (frozen) before the first
  * batch — `Similarity.stageIvfQuantizer` writes `_centroids` and
  * `Similarity.stagePqCodebooks` writes `_codebooks` into the index
  * dir. Each microbatch then (1) routes its vectors to their nearest
  * inverted list against the frozen coarse centroids, (2) PQ-encodes
  * them against the frozen codebooks, and (3) lands (vec_id, pcode, xn)
  * in its own batch directory partitioned by centroid_id — the uniform
  * two-level layout under which a query's probe still partition-prunes
  * and never reads a float vector. In-stream retraining of either
  * quantizer would scatter neighbors across lists or re-code history;
  * frozen artifacts are what make stream-built and batch-built indexes
  * answer identically (StreamingSpec pins it via ivfPqTopKFromIndex).
  *
  * Idempotence: a replayed microbatch overwrites its own batch
  * directory — the [[Microbatch]] discipline.
  */
object IvfPqStream {

  /** @param vectors       streaming frame with vec_id and embedding columns
    * @param indexDir      IVF-PQ index dir; `_centroids` and `_codebooks`
    *                      must already be staged
    * @param checkpointDir streaming checkpoint location
    */
  def start(vectors: DataFrame, indexDir: String, checkpointDir: String): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val books = Similarity.PqCodebooks(Microbatch.staged(s, indexDir, "_codebooks",
        s"IvfPqStream needs staged codebooks — run Similarity.stagePqCodebooks($indexDir) first"))
      val withNorm = batch
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      val assign = Similarity.selectLists(withNorm, Similarity.loadQuantizer(s, indexDir), 1)
      val lists = books.encode(Similarity.vectorCodes(withNorm))
        .join(assign.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("centroid_id"), col("vec_id"), col("pcode"), col("xn"))
      Microbatch.write(lists, indexDir, batchId, "centroid_id")
    }
}
