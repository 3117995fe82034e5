package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous embedding ingestion into a materialized PQ index: the
  * streaming face of Similarity.buildPqIndex, and the compressed sibling
  * of IvfStream.
  *
  * Prerequisite: the codebooks are STAGED (frozen) before the first
  * batch — `Similarity.stagePqCodebooks` writes `_codebooks` into the
  * index dir. Every microbatch then PQ-encodes its vectors against the
  * frozen codebooks (the same pqEncode the batch builder uses — packed
  * code + reconstruction norm, nothing else persists) and lands in its
  * own batch directory. Codebooks never retrain in-stream:
  * re-coding would silently re-rank the existing corpus — frozen
  * codebooks are what make stream-built and batch-built indexes answer
  * identically (StreamingSpec pins that equality through
  * pqTopKFromIndex).
  *
  * Idempotence: a replayed microbatch overwrites its own batch directory
  * (checkpointed ids are stable), never duplicating rows — the
  * [[Microbatch]] discipline.
  */
object PqStream {

  /** @param vectors       streaming frame with vec_id and embedding columns
    * @param indexDir      PQ index dir; `_codebooks` must already be staged
    * @param checkpointDir streaming checkpoint location
    */
  def start(vectors: DataFrame, indexDir: String, checkpointDir: String): StreamingQuery =
    Microbatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val books = Similarity.PqCodebooks(Microbatch.staged(s, indexDir, "_codebooks",
        s"PqStream needs staged codebooks — run Similarity.stagePqCodebooks($indexDir) first"))
      Microbatch.write(books.encode(Similarity.vectorCodes(batch)), indexDir, batchId)
    }
}
