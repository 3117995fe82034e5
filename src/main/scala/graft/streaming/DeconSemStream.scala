package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous EMBEDDING-SPACE benchmark decontamination: the streaming
  * face of [[graft.operators.Similarity.semanticDecontaminate]], and the
  * semantic sibling of [[DecontaminateStream]]'s n-gram screen — the
  * screen a continuously-embedded corpus actually runs (arriving docs
  * vs a frozen eval index), completing the family's lifecycle
  * (batch → incremental → streaming) like the SemDedup and IVF families.
  *
  * Prerequisite: the eval side is STAGED (frozen) before the first batch
  * — `Similarity.stageEvalScreen` writes the first-N float quantizer
  * (`_centroids_f`) and the eval probe table (`eval_probes`) into the
  * stage dir. Each microbatch of (vec_id, embedding) corpus rows is
  * (1) assigned to its single nearest list through the identical
  * codegen'd [[graft.functions.TopCentroidsFloat]] expression the batch
  * index build uses, (2) candidate-joined against the (broadcast-sized,
  * tombstone-screened) eval probes on centroid_id — the batch screen's
  * exact geometry: candidate iff the corpus vector's ONE list is among
  * the eval doc's nProbe probed lists — and (3) scored/thresholded with
  * the batch's exact micro-cosine expression, landing per-corpus-vector
  * contamination verdicts in one directory per batch.
  *
  * Exactness contract: the verdict for a corpus vector depends only on
  * its own embedding and the frozen eval artifact — no cross-batch
  * state at all — so the union of per-batch outputs equals the batch
  * operator over the arrived corpus bit-for-bit, under ANY arrival
  * order (stronger than the id-monotone contract the dedup streams
  * need; StreamingSpec pins the equality). In-stream eval growth would
  * re-admit docs screened before the target grew — the eval set is
  * frozen, and retirements go through `tombstoneEvalScreen` (later
  * batches stop matching retired eval docs; prior verdicts stand) with
  * `compactEvalScreen` folding them in physically, the ANN index
  * family's delete lifecycle.
  *
  * Idempotence: a replayed microbatch overwrites its own batch
  * directory — the [[Microbatch]] discipline.
  *
  * 100 TB shape: per batch ONE pass over the delta (assignment is a
  * JIT-compiled per-row loop against literal centroids, no join), then
  * a broadcast join against the eval probes (eval suites are thousands
  * of docs — broadcast-sized forever) and a map-side-combined per-doc
  * aggregate. Nothing shuffles at corpus scale except the delta's own
  * per-doc aggregate.
  */
object DeconSemStream {

  /** @param vectors        streaming frame with vec_id and embedding columns
    * @param stageDir       staged output of `Similarity.stageEvalScreen`
    *                       (frozen quantizer + eval probes)
    * @param outDir         verdict output, one dir per batch
    * @param checkpointDir  streaming checkpoint location
    * @param thresholdMicro micro-cosine at or above which a corpus vector
    *                       counts an eval collision (the batch default)
    * @param evalMod        eval-slice modulus — arriving rows on the eval
    *                       slice are skipped, matching the batch split
    */
  def start(vectors: DataFrame, stageDir: String, outDir: String,
            checkpointDir: String, thresholdMicro: Long = 350000L,
            evalMod: Int = 97): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val cents = Similarity.loadQuantizer(s, stageDir)
      val probes = Similarity.stagedEvalProbes(s, stageDir)
      val corpus = batch
        .filter(pmod(col("vec_id"), lit(evalMod)) =!= 0)
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
      val assign = Similarity.selectLists(corpus, cents, 1)
      val verdicts = corpus.join(assign.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("centroid_id"), col("vec_id"),
          col("embedding").as("bv"), col("vnorm").as("bn"))
        .join(broadcast(probes), Seq("centroid_id"))
        .withColumn("m",
          expr(Similarity.scoreMicrosFromNorms("dot_f(ev, bv)", "en", "bn")))
        .filter(col("m") >= thresholdMicro)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_eval_hits"), max(col("m")).as("max_cm"))
      Microbatch.write(verdicts, outDir, batchId)
    }
}
