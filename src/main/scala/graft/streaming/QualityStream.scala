package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Det
import graft.text.TextOps

/** Streaming quality gate (r14, VERDICT r13 #6) — the missing half of the
  * trained classifier's adoption loop: documents arrive continuously and
  * every micro-batch is scored under the weights trained (once, memoized)
  * on the reference corpus, emitting per-document gate decisions and a
  * running per-source mix-shift — the same go/no-go view the batch
  * `quality_gate` query gives, kept fresh as data lands.
  *
  * Replay safety is the [[DedupStream]]/[[IndexStream]] discipline:
  * decisions land parquet-partitioned by `ingest_batch` under dynamic
  * partition overwrite, and scoring is deterministic (the LLR table and
  * weights are frozen corpus artifacts; features are per-doc), so a
  * crash-replayed micro-batch rewrites exactly its own partition with
  * bit-identical rows instead of duplicating or drifting.
  *
  * Scale shape: per batch, one tokenize pass over the batch's documents
  * plus a join against the (small, corpus-trained) LLR table — O(batch),
  * never a corpus rescan; the mix-shift report aggregates the decisions
  * table on |sources| keys.
  */
object QualityStream {

  /** Start the gate over a streaming (doc_id, text[, source]) source.
    * `refDir` is the corpus the classifier was trained on (weights and
    * LLR table memoize per session; train-once, score-everywhere).
    * Decisions land under `outDir/decisions` as
    * (doc_id, p, keep, source, ingest_batch).
    */
  def start(docs: DataFrame, refDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // one materialization feeds the scorer AND the source join
        val b = batch.localCheckpoint(true)
        val scored = TextOps.qualityScoreDocs(s, refDir,
          b.select(col("doc_id"), col("text")))
        val withSrc =
          if (b.columns.contains("source"))
            scored.join(b.select(col("doc_id"), col("source")), "doc_id")
          else scored.withColumn("source", lit("unknown"))
        CdcStream.land(withSrc, s"$outDir/decisions", batchId)
      }
      .start()

  /** Everything gated so far: (doc_id, p, keep, source, ingest_batch). */
  def decisions(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(s"$outDir/decisions")

  /** The running mix-shift — per source, documents seen, kept, kept
    * share, mean score: the report that catches a gate silently emptying
    * one source as ingestion runs (the batch `quality_gate` view over the
    * streamed decisions).
    */
  def mixShift(s: SparkSession, outDir: String): DataFrame =
    Det.ordered(decisions(s, outDir)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        Det.rnd(sum(col("keep")) * lit(1.0) / count(lit(1)), 4).as("kept_share"),
        Det.rnd(sum(col("p")) / count(lit(1)), 4).as("avg_p")))
}
