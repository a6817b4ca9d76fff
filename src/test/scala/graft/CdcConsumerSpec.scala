package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.streaming.CdcStream
import graft.tsdb.Graft

/** One advancer per CDC consumer: [[CdcStream.foreachDiff]] holds the
  * state dir's lease, so two advancers serialize and the second starts
  * from the first one's marker; a crashed advance's landing is deleted
  * before the next one lands, even when a write came in between; a fresh
  * foreign lease is refused after the wait; and re-entry from inside a
  * callback throws at once. The consumer counts points per series, landed
  * under the state dir keyed by the snapshot it advances to. */
class CdcConsumerSpec extends SparkTestBase {
  import spark.implicits._

  private val MatchAll = """{"match_all":{}}"""
  private val Schema = new StructType().add("name", StringType)
    .add("delta", LongType).add("ingest_batch", LongType)

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  private def fsAt(p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A store and a per-series point-count consumer of it. */
  private final class Consumer(tag: String) {
    val root: String = freshRoot(tag)
    val g = new Graft(spark, s"$root/store")
    val stateDir = s"$root/consumer"
    val deltasDir = s"$stateDir/deltas"

    def w(t: String, name: String): Unit =
      g.write(Seq((t, 1.0, name)).toDF("time", "value", "name"))

    def onReset(full: DataFrame, snap: Long): Unit = {
      fsAt(deltasDir).delete(new HPath(deltasDir), true)
      CdcStream.land(full.groupBy(col("name"))
        .agg(count(lit(1)).cast("long").as("delta")), deltasDir, snap)
    }
    def onDiff(diff: DataFrame, snap: Long): Unit =
      CdcStream.land(diff.where(col("change") =!= "changed")
        .groupBy(col("name"))
        .agg(sum(when(col("change") === "added", 1L).otherwise(-1L))
          .as("delta"))
        .where(col("delta") =!= 0L), deltasDir, snap)

    def advance(): Long =
      CdcStream.foreachDiff(g, "default", stateDir)(onReset)(onDiff)

    def state(): Map[String, Long] = {
      val upTo = CdcStream.committed(spark, stateDir).map(_.snap)
        .getOrElse(-1L)
      CdcStream.readState(spark, deltasDir, Schema)
        .where(col("ingest_batch") <= upTo)
        .groupBy("name").agg(sum("delta").as("n")).where(col("n") > 0)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def recompute(): Map[String, Long] =
      g.read(MatchAll).groupBy("name").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    /** Every `ingest_batch` value landed under the state dir. */
    def batches(): Set[Long] = {
      val fs = fsAt(stateDir)
      def walk(p: HPath): Seq[String] =
        fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
          .flatMap(c => c.getName +: walk(c))
      walk(new HPath(stateDir)).filter(_.startsWith("ingest_batch="))
        .map(_.stripPrefix("ingest_batch=").toLong).toSet
    }
  }

  test("two advancers with a write landing between their starts: the second starts from the first's marker") {
    val c = new Consumer("graft-cdc-two")
    c.w("2024-01-09T10:00:00Z", "cpu")
    c.advance()
    c.w("2024-01-09T11:00:00Z", "cpu")

    // a is inside its diff callback (to = the 2nd snapshot) when the 3rd
    // write lands and b starts; b would diff from the same marker to the
    // 3rd snapshot and land the 2nd snapshot's point a second time
    val bInDiff = new CountDownLatch(1)
    var b: Competitor = null
    var overlapped = false
    val a = Competitor(CdcStream.foreachDiff(c.g, "default", c.stateDir)(
        c.onReset) { (diff, to) =>
      c.w("2024-01-09T12:00:00Z", "cpu")
      b = Competitor(CdcStream.foreachDiff(c.g, "default", c.stateDir)(
          c.onReset) { (d, t) => bInDiff.countDown(); c.onDiff(d, t) })
      overlapped = bInDiff.await(3, TimeUnit.SECONDS)
      c.onDiff(diff, to)
    })
    a.join()
    b.join()
    assert(c.state() == c.recompute() && c.state() == Map("cpu" -> 3L),
      s"state ${c.state()} vs recompute ${c.recompute()}")
    assert(!overlapped,
      "the second advancer must wait while the first holds the lease")
    assert(CdcStream.committed(spark, c.stateDir).map(_.snap) ==
      Some(c.g.snapshots().max))
  }

  test("a crash after landing, then a write, then the next advance: the crashed landing is deleted, never counted") {
    val c = new Consumer("graft-cdc-crash")
    c.w("2024-01-09T10:00:00Z", "cpu")
    c.advance()
    c.w("2024-01-09T11:00:00Z", "cpu")
    val crashed = c.g.snapshots().max
    intercept[RuntimeException] {
      CdcStream.foreachDiff(c.g, "default", c.stateDir)(c.onReset) { (d, s) =>
        c.onDiff(d, s); throw new RuntimeException("crash before marker")
      }
    }
    assert(c.batches().contains(crashed),
      "precondition: the crashed advance landed above the marker")
    c.w("2024-01-09T12:00:00Z", "cpu")
    c.advance()
    assert(c.state() == c.recompute() && c.state() == Map("cpu" -> 3L),
      s"state ${c.state()} vs recompute ${c.recompute()}")
    val committed = CdcStream.committed(spark, c.stateDir).get.snap
    assert(!c.batches().contains(crashed),
      s"the crashed landing must be deleted: ${c.batches()}")
    assert(c.batches().forall(_ <= committed),
      s"no partition above the marker $committed: ${c.batches()}")
  }

  test("a fresh foreign lease: foreachDiff fails after the wait, names the holder and commits no marker") {
    val c = new Consumer("graft-cdc-foreign")
    c.w("2024-01-09T10:00:00Z", "cpu")
    c.advance()
    c.w("2024-01-09T11:00:00Z", "cpu")
    val before = CdcStream.committed(spark, c.stateDir)
    val held = new HPath(s"${c.stateDir}/_lease/lease_4")
    Graft.writeSmallFile(fsAt(c.stateDir), held, "other-host-4242")
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val saved = CdcStream.leaseWaitMs
    CdcStream.leaseWaitMs = 300L
    val ex = try intercept[IllegalStateException] {
      CdcStream.foreachDiff(c.g, "default", c.stateDir) { (f, s) =>
        ran.incrementAndGet(); c.onReset(f, s)
      } { (d, s) => ran.incrementAndGet(); c.onDiff(d, s) }
    } finally CdcStream.leaseWaitMs = saved
    assert(ex.getMessage.contains("other-host-4242") &&
      ex.getMessage.contains(s"${c.stateDir}/_lease"), ex.getMessage)
    assert(ran.get == 0, "no callback may run without the lease")
    assert(CdcStream.committed(spark, c.stateDir) == before)
    assert(Graft.readSmallFile(fsAt(c.stateDir), held)
      .contains("other-host-4242"), "the foreign lease is left alone")

    fsAt(c.stateDir).delete(held, false)
    c.advance()
    assert(c.state() == c.recompute())
  }

  test("foreachDiff on the same stateDir from inside its own callback throws at once") {
    val c = new Consumer("graft-cdc-reentry")
    c.w("2024-01-09T10:00:00Z", "cpu")
    c.advance()
    c.w("2024-01-09T11:00:00Z", "cpu")
    var nested: Throwable = null
    var tookMs = 0L
    CdcStream.foreachDiff(c.g, "default", c.stateDir)(c.onReset) { (d, s) =>
      val t0 = System.nanoTime()
      nested = intercept[IllegalStateException](c.advance())
      tookMs = (System.nanoTime() - t0) / 1000000L
      c.onDiff(d, s)
    }
    assert(nested.getMessage.contains("already holds"), nested.getMessage)
    assert(tookMs < 5000L, s"re-entry must not wait for the lease: ${tookMs}ms")
    assert(c.state() == c.recompute() && c.state() == Map("cpu" -> 2L))
  }
}
