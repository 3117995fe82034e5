package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous embedding ingestion into a materialized IVF index: the
  * streaming face of Similarity.buildIvfIndex, and the ANN sibling of
  * DedupStream.
  *
  * Prerequisite: the coarse quantizer is STAGED (frozen) before the first
  * batch — `Similarity.stageIvfQuantizer` writes `_centroids` into the
  * index dir. Every microbatch then (1) assigns each vector to its
  * nearest list against the frozen quantizer through
  * `Similarity.selectLists`, the selector the batch builder uses, and (2)
  * lands in its own batch directory partitioned by centroid_id, so the
  * index layout is uniform two-level (batch, centroid_id) and a query's
  * list probe still partition-prunes. Training never reruns in-stream: a
  * quantizer that drifted per-batch would scatter one vector's neighbors
  * across lists and silently destroy recall — frozen centroids are what
  * make stream-built and batch-built indexes answer identically
  * (StreamingSpec pins that equality through ivfTopKFromIndex).
  *
  * Idempotence: a replayed microbatch overwrites its own batch directory
  * (checkpointed ids are stable), never duplicating rows — the
  * [[Microbatch]] discipline.
  */
object IvfStream {

  /** @param vectors       streaming frame with vec_id and embedding columns
    * @param indexDir      IVF index dir; `_centroids` must already be staged
    * @param checkpointDir streaming checkpoint location
    */
  def start(vectors: DataFrame, indexDir: String,
            checkpointDir: String): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val withNorm = batch
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      val assign = Similarity.selectLists(withNorm, Similarity.loadQuantizer(s, indexDir), 1)
      val lists = withNorm.join(assign.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("centroid_id"), col("vec_id"), col("embedding"), col("vnorm"))
      Microbatch.write(lists, indexDir, batchId, "centroid_id")
    }
}
