package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{CdcStream, IngestStream, NearDupStream}
import graft.tsdb.Graft

class StreamingSpec extends SparkTestBase {
  private def tmp(name: String): String = {
    val p = s"target/stream-test/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(p))
    p
  }

  private val MatchAll = """{"match_all":{}}"""

  private def values(g: Graft): Seq[Double] =
    g.read(MatchAll).select("value").collect().map(_.getDouble(0)).sorted.toSeq

  test("memory-source ingest persists per-point errors and replays without duplicates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val g = new Graft(spark, tmp("mem-store"))
    val err = tmp("mem-err"); val ckpt = tmp("mem-ckpt")
    val mem = MemoryStream[(String, Double, Long, String)]
    val raw = mem.toDF().toDF("time", "value", "user_id", "event_type")

    val q = IngestStream.startFromSource(raw, g, "default", err, ckpt)
    mem.addData(
      ("2024-01-09T10:00:00Z", 1.5, 9L, "click"),
      (null, 2.0, 9L, "view"),                       // invalid timestamp
      ("2024-01-09T11:00:00Z", Double.NaN, 9L, "view")) // invalid value
    q.processAllAvailable(); q.stop()

    assert(values(g) == Seq(1.5))
    assert(g.snapshots().size == 1, "one micro-batch, one commit")
    // the error channel carries the reference's per-point reasons
    val errs = spark.read.parquet(err).select("error").collect().map(_.getString(0)).sorted
    assert(errs.toSeq == Seq("invalid timestamp", "invalid value"))

    // restart against the SAME checkpoint: earlier batches must not re-land
    // (no second commit for them), new data lands exactly once
    val q2 = IngestStream.startFromSource(raw, g, "default", err, ckpt)
    mem.addData(("2024-01-16T10:00:00Z", 3.0, 7L, "view"))
    q2.processAllAvailable(); q2.stop()
    assert(values(g) == Seq(1.5, 3.0), "old batch not duplicated, new point landed once")
    assert(g.snapshots().size == 2, "the restart commits only the new batch")
    // distinct buckets: 2024-01-09 week vs 2024-01-16 week
    assert(g.fragmentation().map(_._1).toSet == Set(19726L, 19733L))

    // crash replay: forge a crash after batch 1 landed but before its
    // checkpoint commit — the restart lands it AGAIN (a new snapshot, a
    // newer stamp) and last-write-wins still shows each point once
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$ckpt/commits/$f")))
    val q3 = IngestStream.startFromSource(raw, g, "default", err, ckpt)
    q3.processAllAvailable(); q3.stop()
    assert(g.snapshots().size == 3, "the replayed batch commits again")
    assert(values(g) == Seq(1.5, 3.0), "a replayed point shows once")
  }

  test("kafka-shaped broker ingest: redelivered offsets land once, poison goes to dead-letter") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("broker-store"); val err = tmp("broker-err"); val ckpt = tmp("broker-ckpt")
    val g = new Graft(spark, root)
    // physical rows in the store: the dedup, not the read-time
    // last-write-wins merge, must collapse a redelivered record
    def landedRows() = spark.read.parquet(s"$root/default").count()
    // the connector's exact record shape: key/value bytes + source coords
    val mem = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      java.sql.Timestamp, Int)]
    val broker = mem.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    assert(org.apache.spark.sql.types.DataType.equalsStructurally(
      broker.schema, graft.streaming.IngestStream.brokerSchema,
      ignoreNullability = true))
    val now = new java.sql.Timestamp(1704794400000L)
    def rec(offset: Long, json: String) =
      (Array.empty[Byte], json.getBytes("UTF-8"), "points", 0, offset, now, 0)
    def pt(ts: String, v: Double, u: Long, et: String) =
      s"""{"time":"$ts","value":$v,"user_id":$u,"event_type":"$et"}"""

    val q = IngestStream.startFromBroker(broker, g, "default", err, ckpt)
    // batch 1: offset 0 REDELIVERED inside the batch (producer retry),
    // offset 2 is unparseable bytes, offset 3 has a null value
    mem.addData(
      rec(0, pt("2024-01-09T10:00:00Z", 1.0, 9L, "click")),
      rec(0, pt("2024-01-09T10:00:00Z", 1.0, 9L, "click")),
      rec(1, pt("2024-01-09T10:00:01Z", 2.0, 9L, "view")),
      rec(2, "not json at all"),
      rec(3, """{"time":"2024-01-09T10:00:02Z","value":null,"user_id":9,"event_type":"view"}"""))
    q.processAllAvailable()
    assert(values(g) == Seq(1.0, 2.0))
    assert(landedRows() == 2, "in-batch redelivery collapsed")
    val errs = spark.read.parquet(err).select("error").collect().map(_.getString(0)).sorted
    assert(errs.toSeq == Seq("invalid timestamp", "invalid value"), errs.toSeq)

    // batch 2: offset 1 redelivered ACROSS batches + one genuinely new record
    mem.addData(
      rec(1, pt("2024-01-09T10:00:01Z", 2.0, 9L, "view")),
      rec(4, pt("2024-01-09T10:00:03Z", 3.0, 7L, "click")))
    q.processAllAvailable(); q.stop()
    assert(values(g) == Seq(1.0, 2.0, 3.0))
    assert(landedRows() == 3, "cross-batch redelivery collapsed")

    // restart from the same checkpoint: earlier batches must not re-land;
    // a redelivery of offset 4 after the restart is also dropped (state
    // restored from the checkpoint), and new offsets land exactly once
    val q2 = IngestStream.startFromBroker(broker, g, "default", err, ckpt)
    mem.addData(
      rec(4, pt("2024-01-09T10:00:03Z", 3.0, 7L, "click")),
      rec(5, pt("2024-01-09T10:00:04Z", 4.0, 7L, "view")))
    q2.processAllAvailable(); q2.stop()
    assert(values(g) == Seq(1.0, 2.0, 3.0, 4.0))
    assert(landedRows() == 4, "replay-idempotent across restart")
  }

  test("streaming dedup drops re-delivered points within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long, String)]
    val raw = mem.toDF().toDF("time", "value", "user_id", "event_type")
    val q = IngestStream.dedupped(IngestStream.validate(raw))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // batch 1: a point and its same-batch duplicate
    mem.addData(
      ("2024-01-09T10:00:00Z", 1.5, 9L, "click"),
      ("2024-01-09T10:00:00Z", 1.5, 9L, "click"),
      ("2024-01-09T10:30:00Z", 2.5, 9L, "view"))
    q.processAllAvailable()
    // batch 2: an at-least-once redelivery of the first point + a new one
    mem.addData(
      ("2024-01-09T10:00:00Z", 1.5, 9L, "click"),
      ("2024-01-09T11:00:00Z", 3.5, 9L, "click"))
    q.processAllAvailable(); q.stop()
    val vals = spark.table("dedup_out").select("value")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals == Seq(1.5, 2.5, 3.5), s"duplicates must be dropped once: $vals")
  }

  test("file-source ingest validates and lands bucket-partitioned parquet") {
    val src = tmp("src"); val ckpt = tmp("ckpt")
    val g = new Graft(spark, tmp("store"))
    val lines = Seq(
      """{"time":"2024-01-09T12:00:00Z","value":1.5,"user_id":1,"event_type":"click"}""",
      """{"time":"2024-01-16T00:30:00Z","value":2.5,"user_id":2,"event_type":"view"}""",
      """{"time":null,"value":3.0,"user_id":3,"event_type":"error"}""",      // invalid: no time
      """{"time":"2024-01-09T13:00:00Z","value":null,"user_id":4,"event_type":"click"}""")
    Files.write(Paths.get(s"$src/points.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    val q = IngestStream.start(spark, src, g, "default", ckpt)
    q.processAllAvailable()
    q.stop()

    assert(values(g) == Seq(1.5, 2.5), "only the two valid points land")
    // 2024-01-09 = day 19731 -> bucket 19726; 2024-01-16 = day 19738 -> 19733
    val buckets = g.fragmentation().map(_._1).toSet
    assert(buckets == Set(19726L, 19733L),
      s"bucket partitioning wrong: $buckets")
    // restart with same checkpoint: no duplicate ingestion (exactly-once)
    val seqs = g.snapshots()
    val q2 = IngestStream.start(spark, src, g, "default", ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(values(g) == Seq(1.5, 2.5))
    assert(g.snapshots() == seqs, "the restart re-lands nothing")
  }

  test("validate accepts epoch-millisecond time as a string and as a JSON number, like Graft.write") {
    import spark.implicits._
    val pts = spark.read.schema(IngestStream.pointSchema).json(Seq(
      """{"time":"1704794400000","value":1.0,"user_id":1,"event_type":"a"}""",
      """{"time":1704794400000,"value":2.0,"user_id":2,"event_type":"a"}""").toDS())
    val got = IngestStream.validate(pts).select("value", "time_ms", "error")
      .collect().map(r => (r.getDouble(0), r.getAs[Any](1), r.getAs[Any](2)))
      .sortBy(_._1).toSeq
    // 1704794400000 = 2024-01-09T10:00:00Z
    assert(got == Seq((1.0, 1704794400000L, null), (2.0, 1704794400000L, null)), got)
  }

  test("streaming dedup drops replayed points across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long, String)]
    val deduped = IngestStream.validate(
        mem.toDF().toDF("time", "value", "user_id", "event_type"))
      .where(org.apache.spark.sql.functions.col("error").isNull)
      .dropDuplicates("user_id", "event_type", "time_ms")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    val pt = ("2024-01-09T12:00:00Z", 1.5, 1L, "click")
    mem.addData(pt, pt) // duplicate within a batch
    q.processAllAvailable()
    mem.addData(pt)     // replay in a later batch -> state-backed drop
    mem.addData(("2024-01-09T12:00:01Z", 2.5, 1L, "click"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("stream-stream interval join matches same-user points within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lm = MemoryStream[(String, Double, Long, String)]
    val rm = MemoryStream[(String, Double, Long, String)]
    val joined = IngestStream.streamIntervalJoin(
      IngestStream.validate(lm.toDF().toDF("time", "value", "user_id", "event_type")),
      IngestStream.validate(rm.toDF().toDF("time", "value", "user_id", "event_type")))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    lm.addData(("2024-01-09T12:00:00Z", 1.0, 1L, "click"))
    rm.addData(
      ("2024-01-09T12:30:00Z", 2.0, 1L, "purchase"),  // in window, same user
      ("2024-01-09T14:00:00Z", 3.0, 1L, "purchase"),  // outside window
      ("2024-01-09T12:30:00Z", 4.0, 2L, "purchase"))  // other user
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj").collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("r_value") == 2.0)
  }

  test("watermark drops events later than the lateness bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long, String)]
    val raw = mem.toDF().toDF("time", "value", "user_id", "event_type")
    val counts = IngestStream.windowedCounts(IngestStream.validate(raw), "1 hour", "2 hours")
    val q = counts.writeStream.format("memory").queryName("wm").outputMode("append").start()
    mem.addData(("2024-01-09T18:00:00Z", 1.0, 1L, "click"))
    q.processAllAvailable() // watermark advances to 16:00
    mem.addData(("2024-01-09T09:00:00Z", 2.0, 1L, "click")) // 7h late -> dropped
    mem.addData(("2024-01-09T17:30:00Z", 3.0, 1L, "click")) // within bound -> kept
    q.processAllAvailable()
    // close every window by pushing the watermark far forward
    mem.addData(("2024-01-10T12:00:00Z", 4.0, 1L, "click"))
    q.processAllAvailable()
    q.stop()
    val windows = spark.table("wm")
      .select(col("window.start").cast("string")).collect().map(_.getString(0)).toSet
    assert(windows.contains("2024-01-09 17:00:00"), "in-bound late event emitted")
    assert(!windows.contains("2024-01-09 09:00:00"), "beyond-watermark event dropped")
  }

  test("stateful anomaly detector flags spikes against pre-spike baseline only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.AnomalyStream
    val mem = MemoryStream[(String, Double, Long, String)]
    val out = AnomalyStream.anomalies(spark,
      IngestStream.validate(mem.toDF().toDF("time", "value", "user_id", "event_type")),
      z = 3.0, minN = 5)
    val q = out.writeStream.format("memory").queryName("anom").outputMode("append").start()
    // batch 1: a stable baseline (values 10 +/- 1), no anomalies possible yet
    mem.addData((0 until 6).map(i =>
      (f"2024-01-09T12:00:0$i%01dZ", 10.0 + (i % 2), 1L, "click")): _*)
    q.processAllAvailable()
    // batch 2: state carries the baseline across batches; 100 is a spike,
    // and the later normal point must not be flagged even after the spike
    // entered the moments
    mem.addData(("2024-01-09T12:01:00Z", 100.0, 1L, "click"),
      ("2024-01-09T12:01:30Z", 10.0, 1L, "click"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("anom").collect()
    assert(rows.length == 1, s"exactly the spike: ${rows.mkString(",")}")
    assert(rows(0).getAs[Double]("value") == 100.0)
    assert(rows(0).getAs[Double]("zscore") > 3.0)
  }

  test("windowed per-series counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long, String)]
    val raw = mem.toDF().toDF("time", "value", "user_id", "event_type")
    val counts = IngestStream.windowedCounts(IngestStream.validate(raw), "1 hour", "2 hours")

    val q = counts.writeStream.format("memory").queryName("wc").outputMode("update").start()
    mem.addData(
      ("2024-01-09T12:05:00Z", 1.0, 1L, "click"),
      ("2024-01-09T12:40:00Z", 2.0, 1L, "click"),
      ("2024-01-09T13:10:00Z", 4.0, 1L, "click"),
      ("2024-01-09T12:15:00Z", 8.0, 2L, "view"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("wc")
      .select(col("window.start").cast("string").as("w"), col("user_id"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(out == Set(
      ("2024-01-09 12:00:00", 1L, "click", 2L, 3.0),
      ("2024-01-09 13:00:00", 1L, "click", 1L, 4.0),
      ("2024-01-09 12:00:00", 2L, "view", 1L, 8.0)))
  }

  test("incremental rollup equals batch recomputation across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val roll = tmp("rollup-sink"); val ckpt = tmp("rollup-ckpt")
    val mem = MemoryStream[(String, Double, Long, String)]
    val raw = mem.toDF().toDF("time", "value", "user_id", "event_type")

    val q = IngestStream.startRollup(raw, roll, ckpt)
    // two micro-batches hitting the SAME hour bucket: partials must compose
    mem.addData(
      ("2024-01-09T10:05:00Z", 1.25, 1L, "click"),
      ("2024-01-09T10:20:00Z", 2.5, 1L, "click"),
      ("2024-01-09T11:05:00Z", 4.0, 1L, "click"))
    q.processAllAvailable()
    mem.addData(
      ("2024-01-09T10:40:00Z", 8.0, 1L, "click"),   // same hour as batch 0
      ("2024-01-09T10:45:00Z", 16.0, 2L, "view"),
      ("bad-time", 32.0, 2L, "view"))               // rejected, never rolls up
    q.processAllAvailable(); q.stop()

    val view = IngestStream.rollupView(spark, roll)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val hour = 1704794400000L // 2024-01-09T10:00:00Z
    assert(view == Set(
      (1L, "click", hour, 3L, 11.75, 8.0),
      (1L, "click", hour + 3600000L, 1L, 4.0, 4.0),
      (2L, "view", hour, 1L, 16.0, 16.0)))
    // the partial table really is split across two batch partitions
    val batches = spark.read.parquet(roll).select("ingest_batch").distinct().count()
    assert(batches == 2)
  }

  test("rollupView and decisionsOf read a landed zero-row batch as no rows") {
    import spark.implicits._
    // a micro-batch whose points were all invalid lands a rollup batch
    // with no rows: a dir with no partitions, no footer to infer from
    val roll = tmp("rollup-empty")
    CdcStream.land(Seq.empty[(Long, String, Long, Long, Double, Double)]
      .toDF("user_id", "event_type", "hour_ms", "hn", "hsum", "hmax")
      .withColumn("hsum", col("hsum").cast("decimal(28,4)")), roll, 0L)
    assert(IngestStream.rollupView(spark, roll).collect().isEmpty)
    val dec = tmp("neardup-empty")
    CdcStream.land(Seq.empty[(Long, Long)].toDF("doc_id", "is_dup"), dec, 0L)
    assert(NearDupStream.decisionsOf(spark, dec).collect().isEmpty)
  }
}
