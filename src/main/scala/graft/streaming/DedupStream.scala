package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.text.TextOps

/** Streaming maintenance of the exact-dedup content-hash index — the
  * streaming half of [[graft.dedup.Dedup.incrementalDedup]]'s
  * snapshot-delta story: documents arrive continuously, every micro-batch
  * is flagged against all PREVIOUSLY indexed content (plus earlier
  * occurrences inside its own batch), and the batch's novel hashes append
  * to the index for the next batch to probe.
  *
  * Scale: the index carries one md5 per distinct document ever kept — at
  * 100 TB that is the hash column of [[graft.dedup.Dedup.exact]]'s output,
  * parquet-partitioned by ingest batch; each batch's probe is one
  * left-join of |batch| rows against it (broadcast-able when batches are
  * small relative to the index build side — the planner's call), never a
  * corpus rescan. Both writes ride dynamic partition overwrite on
  * ingest_batch — the ingest sink's idempotency discipline — and the probe
  * EXCLUDES the current batch's own partition, so a crash-replayed batch
  * recomputes against exactly the pre-crash index state and lands
  * bit-identically instead of flagging itself as duplicate.
  */
object DedupStream {

  /** Start index maintenance over a streaming (doc_id, text) source.
    * Emits per-document decisions (doc_id, is_dup) under `decisionsDir`
    * and appends novel content hashes under `indexDir`.
    */
  def start(docs: DataFrame, indexDir: String, decisionsDir: String,
            checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val hashed = batch
          .select(col("doc_id"), md5(TextOps.norm(col("text"))).as("h"))
          .localCheckpoint(true)
        val idx = CdcStream.readState(s, indexDir, IndexSchema)
          .where(col("ingest_batch") =!= batchId) // replay: pre-crash state
          .select(col("h"))
        // first occurrence INSIDE the batch wins; anything matching the
        // persisted index is a dup regardless of in-batch position
        val wFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        val flagged = hashed
          .join(idx.select(col("h"), lit(1L).as("seen")).distinct(), Seq("h"), "left")
          .withColumn("pos", row_number().over(wFirst))
          .select(col("doc_id"), col("h"),
            (coalesce(col("seen"), lit(0L)) === 1L || col("pos") > 1)
              .cast("bigint").as("is_dup"))
          .localCheckpoint(true)
        CdcStream.land(flagged.select(col("doc_id"), col("is_dup")),
          decisionsDir, batchId)
        CdcStream.land(flagged.where(col("is_dup") === 0L).select(col("h")),
          indexDir, batchId)
      }
      .start()

  /** The content-hash index's declared schema: `ingest_batch` is the
    * `lit(batchId)` long [[CdcStream.land]] writes. */
  private val IndexSchema = StructType(Seq(StructField("h", StringType),
    StructField("ingest_batch", LongType)))
}
