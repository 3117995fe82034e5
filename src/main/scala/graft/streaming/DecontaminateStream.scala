package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis
import graft.sources.Tables

/** Continuous-ingestion benchmark decontamination: the streaming face of
  * [[graft.operators.Curation.decontaminate]].
  *
  * The eval n-gram set is STAGED once (a tiny parquet of distinct grams —
  * benchmark suites are thousands of docs, so the staged set stays
  * broadcast-sized forever) and FROZEN for the life of the stream: a
  * moving contamination target would silently re-admit documents screened
  * before the target grew. Each microbatch then needs only a per-row gram
  * expansion plus a broadcast join — decontamination is per-document, so
  * the streaming screen is exactly the batch operator run on the delta,
  * and per-batch outputs union to the full-corpus answer bit-for-bit.
  *
  * Idempotence: flagged rows are a per-batch overwrite, so a replayed
  * microbatch rewrites its own output (the [[Microbatch]] discipline).
  */
object DecontaminateStream {

  /** Distinct word n-grams of the eval slice, to stage as parquet. */
  def evalGrams(docs: DataFrame, n: Int = 4, evalMod: Int = 97): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
      .withColumn("ws", expr(TextAnalysis.TokensExpr))
      .filter(expr(s"size(ws) >= $n"))
      .select(col("doc_id").as("eval_doc"), explode(expr(ngrams(n))).as("g"))
      .distinct()

  private def ngrams(n: Int): String = {
    val parts = (0 until n).map(j => s"element_at(ws, i + $j)").mkString(", ")
    s"array_distinct(transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', $parts)))"
  }

  /** Screen a stream of documents against a staged eval-gram parquet.
    *
    * @param docs        streaming frame with doc_id and text columns
    * @param evalGramDir staged output of [[evalGrams]] (frozen)
    * @param outDir      flagged-doc output, one dir per batch
    */
  def start(docs: DataFrame, evalGramDir: String, outDir: String,
            checkpointDir: String, n: Int = 4, evalMod: Int = 97): StreamingQuery =
    Microbatch.start(docs, checkpointDir) { (batch, batchId) =>
      val eval = Tables.parquet(batch.sparkSession, evalGramDir)
      val flagged = batch
        .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
        .withColumn("ws", expr(TextAnalysis.TokensExpr))
        .filter(expr(s"size(ws) >= $n"))
        .select(col("doc_id"), explode(expr(ngrams(n))).as("g"))
        .join(broadcast(eval), "g")
        .groupBy(col("doc_id"))
        .agg(
          countDistinct(col("g")).as("n_overlap_ngrams"),
          countDistinct(col("eval_doc")).as("n_eval_docs"))
      Microbatch.write(flagged, outDir, batchId)
    }

  /** Convenience: stage the eval grams from a static corpus dir. */
  def stageEvalGrams(s: SparkSession, docs: DataFrame, evalGramDir: String,
                     n: Int = 4, evalMod: Int = 97): Unit =
    evalGrams(docs, n, evalMod).write.mode("overwrite").parquet(evalGramDir)
}
