package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous SemDeDup-style semantic deduplication: the streaming face
  * of Similarity.semanticDedup, completing the family's lifecycle
  * (batch → incremental [semanticDedupIncremental] → streaming), the
  * same ladder the MinHash and IVF/PQ families climb.
  *
  * Prerequisite: the coarse quantizer is STAGED (frozen) before the
  * first batch — `Similarity.stageIvfQuantizer` writes `_centroids`
  * into the labels dir. Each microbatch of (vec_id, embedding) rows is
  * (1) cluster-assigned against the frozen centroids through
  * `Similarity.selectLists` (the codegen'd argmax), (2) screened for
  * drops against every same-cluster smaller-id row — prior batches via the
  * persistent labels index (which carries each vector's embedding and
  * norm, so screening never re-reads history) plus the batch's own
  * smaller ids — and (3) appended with its kept/dropped labels, so
  * batch N+1 sees batch N.
  *
  * Exactness contract: with append-monotone arrival (every id in batch
  * N+1 exceeds every id in batch N — the semanticDedupIncremental
  * contract), the accumulated (vec_id, cluster_id, kept) labeling
  * equals the batch semanticDedup over the full corpus with the same
  * frozen training bound; StreamingSpec pins that equality. Comparison
  * is against ALL smaller-id cluster members (kept AND dropped), which
  * is the batch operator's pair semantics. In-stream retraining would
  * both scatter neighbors across clusters and flip prior labels —
  * frozen centroids are what make the labeling append-only.
  *
  * Idempotence: a replayed microbatch overwrites its own batch
  * directory and never screens against its own rows from a failed
  * attempt — the [[Microbatch]] discipline. Labels land partitioned by
  * cluster_id, so a steady-state delta's screening join prunes to
  * touched clusters at the parquet scan.
  */
object SemDedupStream {

  /** @param vectors         streaming frame with vec_id and embedding columns
    * @param labelsDir       persistent labeled index (vec_id, cluster_id,
    *                        embedding, vnorm, kept); `_centroids` must
    *                        already be staged into it
    * @param checkpointDir   streaming checkpoint location
    * @param thresholdMicros micro-cosine at or above which a vector with
    *                        an earlier same-cluster neighbor is dropped
    */
  def start(vectors: DataFrame, labelsDir: String, checkpointDir: String,
            thresholdMicros: Long = 400000L): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val withNorm = batch
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      val assign = Similarity.selectLists(withNorm, Similarity.loadQuantizer(s, labelsDir), 1)
        .select(col("vec_id"), col("centroid_id").as("cluster_id"))
      val newRows = withNorm.join(assign.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("cluster_id"), col("vec_id"), col("embedding"), col("vnorm"))
        .localCheckpoint(true)
      // the comparison corpus: prior batches' members (all of them —
      // dropped rows still witness drops) plus this batch's own rows;
      // the vec_b < vec_id filter keeps exactly the smaller-id side
      val earlier = Microbatch.prior(labelsDir, batchId, newRows)
        .unionByName(newRows)
        .select(col("cluster_id"), col("vec_id").as("vec_b"),
          col("embedding").as("eb"), col("vnorm").as("nb"))
      val drops = newRows
        .select(col("cluster_id"), col("vec_id"),
          col("embedding").as("ea"), col("vnorm").as("na"))
        .join(earlier, Seq("cluster_id"))
        .filter(col("vec_b") < col("vec_id"))
        .withColumn("m", expr(Similarity.scoreMicrosFromNorms(
          "dot_f(ea, eb)", "na", "nb")))
        .filter(col("m") >= thresholdMicros)
        .select(col("vec_id")).distinct()
      val labels = newRows
        .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
        .select(col("cluster_id"), col("vec_id"), col("embedding"),
          col("vnorm"), not(coalesce(col("dropped"), lit(false))).as("kept"))
      Microbatch.write(labels, labelsDir, batchId, "cluster_id")
    }
}
