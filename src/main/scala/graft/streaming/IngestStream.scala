package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.tsdb.Graft

/** Structured Streaming ingestion — the live equivalent of the reference's
  * `/write` path (lib/orestes-inserter.js), where every point reaches
  * storage through one inserter.
  *
  * Scale design: file/Kafka source → `foreachBatch` → [[Graft.write]]. The
  * store's own writer is the sink, so every micro-batch gets the store's
  * validation, its `__wseq` last-write-wins stamp, the space's own bucket
  * granularity and a manifest commit — streamed points are live the
  * moment the batch commits, and `vacuum` never sees them as orphans.
  *
  * Exactly-once: a micro-batch replayed after a crash (its checkpoint
  * commit missing) lands again under a NEWER stamp, and the last-write-wins
  * merge shows each (series, time) once. Like a retried Cassandra upsert,
  * the replay also supersedes any write to the same series and time made
  * between the original landing and the replay.
  */
object IngestStream {

  /** Wire schema of incoming points: {time, value, ...tags} with tags
    * flattened (user_id, event_type) as in the driver's events table.
    */
  val pointSchema: StructType = StructType(Seq(
    StructField("time", StringType),
    StructField("value", DoubleType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** Validation per the reference (lib/orestes-utils.js:158-182): the
    * store's own rule ([[Graft.validated]], the one [[Graft.write]]
    * applies) — parseable time (ISO or epoch millis), numeric non-NaN
    * value, at least one tag. Invalid rows get an `error` reason instead
    * of being dropped (the reference reports per-point errors to the
    * writer).
    */
  def validate(raw: DataFrame): DataFrame =
    Graft.validated(raw, Seq("user_id", "event_type")).select(
      col("__time_ms").as("time_ms"), col("value"),
      col("user_id"), col("event_type"), col("__error").as("error"))

  /** File-source ingestion: JSON points dir → `g.write` into `space`.
    * Checkpointed; restart-safe. Rejected points are dropped (the
    * dead-letter flavors are [[startFromSource]]/[[startFromBroker]]).
    */
  def start(spark: SparkSession, srcDir: String, g: Graft, space: String,
            checkpointDir: String): StreamingQuery =
    spark.readStream.schema(pointSchema).json(srcDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => g.write(batch, space); () }
      .start()

  /** Source-agnostic ingestion for live (non-file) sources — a Kafka
    * value-parsed stream or a MemoryStream, anything producing the wire
    * schema. Differs from the file flavor by the reference's live write
    * path (lib/orestes-inserter.js:139-206): the per-point ERROR CHANNEL
    * is persisted — rejected points land in `errDir` with their error
    * reason (the reference returns per-point errors to the writer; a live
    * pipeline keeps a dead-letter dir), one `ingest_batch=<id>` partition
    * per micro-batch with dynamic partition overwrite, so a replayed batch
    * rewrites its own dead letters instead of duplicating them.
    */
  def startFromSource(raw: DataFrame, g: Graft, space: String, errDir: String,
                      checkpointDir: String): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try CdcStream.land(g.write(b, space), errDir, batchId)
        finally b.unpersist()
      }
      .start()

  /** What the Kafka connector emits per record — spark-sql-kafka's output
    * schema, column for column (key/value as bytes, source coordinates,
    * broker timestamp). [[startFromBroker]] consumes ONLY this shape, so a
    * real `spark.readStream.format("kafka")` frame is a drop-in. (The
    * connector jar itself is not on this environment's classpath — zero
    * egress — so specs drive the path through a MemoryStream emitting this
    * exact schema.)
    */
  val brokerSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Broker frame → wire-schema points: JSON-decode the value bytes.
    * Records whose value is not valid JSON decode to all-null points and
    * surface through the validator's error channel ("invalid timestamp"),
    * never abort the batch — the at-least-once broker contract is that
    * poison messages go to the dead letter, not down the query.
    */
  def fromBroker(broker: DataFrame): DataFrame =
    broker
      .select(from_json(col("value").cast("string"), pointSchema).as("p"))
      .select(col("p.time"), col("p.value"), col("p.user_id"), col("p.event_type"))

  /** Broker-source ingestion (the Kafka shape of [[startFromSource]]).
    * At-least-once brokers REDELIVER records — a producer retry or a
    * rebalance replays the same (topic, partition, offset) — so the stream
    * first drops duplicate source coordinates within the watermark horizon
    * (state bounded by the horizon, the [[dedupped]] discipline), then
    * decodes and lands through the same `g.write` + dead-letter sink.
    * Redelivery inside a batch, across batches, and across a checkpoint
    * restart all land exactly once.
    */
  def startFromBroker(broker: DataFrame, g: Graft, space: String, errDir: String,
                      checkpointDir: String,
                      watermark: String = "2 hours"): StreamingQuery = {
    val once = broker
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("topic", "partition", "offset")
    startFromSource(fromBroker(once), g, space, errDir, checkpointDir)
  }

  /** Stream-stream interval join: each left point matched to right points of
    * the same user within [0, joinWindowMs) after it. Both sides carry
    * watermarks so Spark can bound the join state — the live counterpart of
    * `Analytics.rangeJoin`.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         joinWindowMs: Long = 3600000L,
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.where(col("error").isNull)
      .select(col("user_id").as("l_user"), timestamp_millis(col("time_ms")).as("l_ts"),
        col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.where(col("error").isNull)
      .select(col("user_id").as("r_user"), timestamp_millis(col("time_ms")).as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") < col("l_ts") + expr(s"INTERVAL $joinWindowMs MILLISECOND"))
  }

  /** Streaming exact dedup — the live counterpart of `Dedup.exact` for
    * at-least-once sources (a producer retry or replayed Kafka offset
    * re-delivers the same point). Duplicate (series, time) keys are dropped
    * as long as they re-arrive within the watermark horizon; dedup state is
    * bounded by that horizon instead of growing with the stream.
    */
  def dedupped(validated: DataFrame, watermark: String = "2 hours"): DataFrame =
    validated.where(col("error").isNull)
      .select(timestamp_millis(col("time_ms")).as("ts"), col("time_ms"),
        col("user_id"), col("event_type"), col("value"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "time_ms")

  /** Incremental hourly-rollup maintenance — the streaming producer of the
    * multi-resolution cascade [[graft.tsdb.Tsdb.rollupCascade]] consumes:
    * each micro-batch writes its per-(series, hour) PARTIAL aggregates
    * (count / exact-DECIMAL sum / max) under its own `ingest_batch`
    * partition with dynamic overwrite, so a replayed batch rewrites itself
    * (idempotent, like [[startFromSource]]'s dead letters). Nothing ever
    * re-scans history: the serving view [[rollupView]] just re-aggregates
    * partials, which compose losslessly.
    */
  def startRollup(raw: DataFrame, rollupDir: String,
                  checkpointDir: String): StreamingQuery =
    validate(raw).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        CdcStream.land(batch.where(col("error").isNull)
          .groupBy(col("user_id"), col("event_type"),
            (floor(col("time_ms") / lit(3600000L)) * 3600000L).cast("bigint").as("hour_ms"))
          .agg(count(lit(1)).as("hn"),
            sum(col("value").cast("decimal(18,4)")).as("hsum"),
            max(col("value")).as("hmax")), rollupDir, batchId)
      }
      .start()

  /** Serving view over the partial-rollup table: hourly totals composed
    * from per-batch partials — bit-identical to aggregating the raw points
    * (sums of sums, counts of counts; the exactness argument is
    * [[graft.tsdb.Tsdb.rollupCascade]]'s).
    */
  def rollupView(s: SparkSession, rollupDir: String): DataFrame =
    CdcStream.readState(s, rollupDir, RollupSchema)
      .groupBy(col("user_id"), col("event_type"), col("hour_ms"))
      .agg(sum(col("hn")).as("n"),
        sum(col("hsum")).cast("double").as("sum_value"),
        max(col("hmax")).as("max_value"))

  /** The partials [[startRollup]] lands for [[pointSchema]] points: count,
    * exact-DECIMAL sum (`sum` widens decimal(18,4) by 10 digits) and max
    * per (series, hour), and the micro-batch id. */
  private val RollupSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("hour_ms", LongType), StructField("hn", LongType),
    StructField("hsum", DecimalType(28, 4)), StructField("hmax", DoubleType),
    StructField("ingest_batch", LongType)))

  /** Live per-series counts over event-time windows with a watermark — the
    * streaming equivalent of `/read` + count aggregation. Late data beyond
    * the watermark is dropped; state is bounded.
    */
  def windowedCounts(validated: DataFrame, windowDur: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    validated.where(col("error").isNull)
      .select(timestamp_millis(col("time_ms")).as("ts"), col("user_id"), col("event_type"),
        col("value"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
}
