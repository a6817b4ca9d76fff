package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Det
import graft.functions.VectorFunctions

/** Streaming maintenance of the IVF inverted file — [[DedupStream]]'s
  * index-maintenance pattern applied to ANN: vectors arrive continuously,
  * every micro-batch is quantized and assigned to its nearest cell of a
  * FIXED trained coarse codebook (the train-once-offline artifact
  * [[graft.ann.Ann.ivfCodebook]] persists), and the assignments append to
  * the inverted file so the index stays fresh WITHOUT retraining — the
  * standard IVF deployment story (retrain on drift, append in between).
  *
  * Scale & idempotency: the inverted file is parquet partitioned by
  * `(cell, ingest_batch)` — `cell` so a probe's cell restriction is
  * partition PRUNING on storage (a query reads only its probed cells'
  * directories, cost = cell occupancy, like the batch `ivfranked`
  * artifact), `ingest_batch` so every write rides dynamic partition
  * overwrite: a crash-replayed micro-batch overwrites exactly the
  * partitions it wrote before the crash, landing bit-identically
  * (assignment against the fixed codebook is deterministic), instead of
  * duplicating vectors. The codebook is broadcast per batch; only the
  * batch's rows are scanned — never the index.
  */
object AnnStream {

  /** Quantize exactly like the batch pipeline (6-dp components — the form
    * the codebook was trained on) and assign each vector to its nearest
    * cell by rounded cosine with c_id tiebreak, mirroring
    * [[graft.ann.Ann]]'s rankedAssignment arn=1 row.
    */
  private def assignBatch(s: SparkSession, batch: DataFrame,
                          codebook: DataFrame): DataFrame = {
    val q = batch
      .select(col("vec_id"),
        transform(col("embedding"), x => Det.rnd(x.cast("double"), 6)).as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(VectorFunctions.dot(s, col("v"), col("v"))).as("nrm"))
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    q.join(broadcast(codebook), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id"),
        round(try_divide(VectorFunctions.dot(s, col("v"), col("cv")),
          col("nrm") * col("cn")), 6).as("c_cos"))
      .withColumn("arn", row_number().over(wA))
      .where(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
  }

  /** Start inverted-file maintenance over a streaming (vec_id, embedding)
    * source against a fixed trained codebook (c_id, cv, cn). */
  def start(vectors: DataFrame, codebook: DataFrame, indexDir: String,
            checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        CdcStream.land(assignBatch(s, batch, codebook), indexDir, batchId,
          "cell")
      }
      .start()

  /** Probe the streamed inverted file: each query (vec_id, embedding) is
    * assigned to its nearest cell and scored against ONLY that cell's
    * stored vectors — the cell restriction is a pushed partition filter on
    * the index's `cell` directory layout, so probe cost is cell occupancy
    * regardless of index size. Returns (q_id, n_id, cosine, rank <= k).
    */
  def probe(s: SparkSession, indexDir: String, queries: DataFrame,
            codebook: DataFrame, k: Int = 5): DataFrame = {
    val q = assignBatch(s, queries, codebook)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("q_cell"))
    val idx = s.read.parquet(indexDir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    idx.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine"))
      .select(col("q_id"), col("n_id"), col("cosine"),
        row_number().over(w).cast("bigint").as("rank"))
      .where(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }
}
