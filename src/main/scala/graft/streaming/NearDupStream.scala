package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.dedup.Dedup

/** Streaming maintenance of the MinHash-LSH band index — the NEAR-dup
  * analog of [[DedupStream]]'s exact content-hash index, completing the
  * streaming dedup story: exact dup catches byte-identical re-crawls,
  * this catches the near-clones (boilerplate edits, version bumps) that
  * an exact hash misses. Every micro-batch computes its band rows with
  * EXACTLY the batch pipeline ([[graft.dedup.Dedup.bandRowsFor]] — same
  * shingles, seeds, band keys), probes them against all previously
  * indexed documents' bands (plus smaller-id docs inside its own batch),
  * and appends EVERY batch document's band rows for the next batch to
  * probe. A document is flagged when it shares ANY (band, band_key)
  * bucket with ANY earlier document — exactly the pairwise rule the
  * batch `dedup_curve` removal counts use (b removed when any candidate
  * pair (a, b) with a < b exists).
  *
  * Indexing ALL documents (not just the kept ones) is what makes the
  * decisions MICRO-BATCH-BOUNDARY INVARIANT: LSH band collision is not
  * transitive, so a kept-only index would flag a doc whose only
  * collision partner is a flagged doc differently depending on whether
  * the two arrived in one batch or two (the exact-hash stream CAN index
  * kept-only because hash equality IS transitive — any doc matching a
  * removed doc's hash also matches its keeper's).
  *
  * Out-of-order arrival (r12, closing an ADVICE finding): the pairwise
  * rule is defined on doc_id order, not arrival order, so the history
  * probe is id-AWARE. An arriving doc is flagged only when a SMALLER-id
  * doc (in history or in-batch) shares a bucket; when the arriving doc
  * collides with a LARGER-id doc already indexed, the stream emits a
  * CORRECTION row flagging that earlier doc instead. Decisions are
  * therefore an append log — a doc's final state is `max(is_dup)` over
  * its rows (flag-sticky, see [[decisionsOf]]) — and the union of rows
  * equals the batch a<b relation regardless of how arrivals are split
  * into batches OR reordered across them. Corrections land in the
  * CURRENT batch's decisions partition (never rewriting an earlier
  * partition), preserving the crash-replay bit-identity argument below.
  *
  * Scale: the index is nBands rows per document seen (band_key is one
  * md5), parquet-partitioned by ingest batch; each batch's probe is a
  * band-bucket semi-join of |batch|·nBands rows against it — never a
  * corpus rescan, never pair space. Both writes ride dynamic partition
  * overwrite on ingest_batch and the probe EXCLUDES the current batch's
  * own partition, so a crash-replayed batch recomputes against exactly
  * the pre-crash index state and lands bit-identically.
  */
object NearDupStream {

  /** Start index maintenance over a streaming (doc_id, text) source.
    * Emits per-document decisions (doc_id, is_dup) under `decisionsDir`
    * and appends the batch's band rows under `indexDir`.
    */
  def start(docs: DataFrame, indexDir: String, decisionsDir: String,
            checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bands = Dedup.bandRowsFor(batch.select(col("doc_id"), col("text")))
          .localCheckpoint(true)
        // id-aware history probe: collisions carry the indexed doc's id, so
        // the a<b rule applies to (history, arrival) pairs in BOTH
        // directions — flag the arrival on a smaller-id hit, emit a
        // correction for an indexed larger-id doc on a smaller-id arrival
        val hist = CdcStream.readState(s, indexDir, IndexSchema)
          .where(col("ingest_batch") =!= batchId) // replay: pre-crash state
          .select(col("doc_id").as("hist_id"), col("band"), col("band_key"))
        val coll = bands.join(hist, Seq("band", "band_key"))
          .where(col("hist_id") =!= col("doc_id"))
          .select(col("doc_id"), col("hist_id"))
          .localCheckpoint(true)
        val histHit = coll.where(col("hist_id") < col("doc_id"))
          .select(col("doc_id")).distinct()
          .withColumn("hist_dup", lit(1L))
        val corrections = coll.where(col("hist_id") > col("doc_id"))
          .select(col("hist_id").as("doc_id")).distinct()
          .withColumn("is_dup", lit(1L))
        // in-batch keep-first: a doc is a dup of the SMALLEST doc_id in any
        // of its band buckets (the pairwise a<b rule, applied within batch)
        val firstIn = bands.groupBy(col("band"), col("band_key"))
          .agg(min(col("doc_id")).as("first_id"))
        val inHit = bands.join(firstIn, Seq("band", "band_key"))
          .where(col("doc_id") > col("first_id"))
          .select(col("doc_id")).distinct()
          .withColumn("batch_dup", lit(1L))
        val flagged = batch.select(col("doc_id")).distinct()
          .join(histHit, Seq("doc_id"), "left")
          .join(inHit, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("hist_dup"), lit(0L)) === 1L ||
              coalesce(col("batch_dup"), lit(0L)) === 1L).cast("bigint").as("is_dup"))
          .localCheckpoint(true)
        CdcStream.land(flagged.unionByName(corrections), decisionsDir, batchId)
        // index EVERY doc's bands (see scaladoc: LSH collision is not
        // transitive, so kept-only indexing would make decisions depend
        // on micro-batch boundaries)
        CdcStream.land(bands, indexDir, batchId)
      }
      .start()

  /** Current per-document decisions from the append log: `max(is_dup)`
    * per doc_id (flag-sticky — a correction row can only raise a kept doc
    * to flagged, never the reverse). This is the read shape consumers use;
    * raw rows under `decisionsDir` are one per (batch-decision|correction).
    */
  def decisionsOf(s: SparkSession, decisionsDir: String): DataFrame =
    CdcStream.readState(s, decisionsDir, DecisionSchema)
      .groupBy(col("doc_id")).agg(max(col("is_dup")).as("is_dup"))

  /** The band index's declared schema: `ingest_batch` is the
    * `lit(batchId)` long [[CdcStream.land]] writes (ADVICE r11). */
  private val IndexSchema =
    StructType(Seq(StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("band_key", StringType), StructField("ingest_batch", LongType)))

  /** The decision log's declared schema: the index's doc ids, the bigint
    * flag, and the batch id. */
  private val DecisionSchema =
    StructType(Seq(StructField("doc_id", LongType), StructField("is_dup", LongType),
      StructField("ingest_batch", LongType)))
}
