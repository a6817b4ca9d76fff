package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.JsonNode
import graft.tsdb.Graft

/** A queued flush hands the writer its lines in time order, so each write
  * task holds a contiguous bucket range and writes at most one file per
  * bucket of it: at most `buckets + tasks - 1` files per flush, where
  * arrival order gave `buckets × tasks`. The order must not reach the
  * last-write-wins merge, which decides on each line's `__wseq` alone.
  */
class FlushLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-layout").toString

  private val Jan1 = 1704067200000L // 2024-01-01T00:00Z
  private val Week = 7L * 86400000L

  /** ManifestStatsSpec's flush fixture: 20 × 500 points whose weekly
    * buckets interleave over 26 weeks in arrival order. */
  private def interleaved(b: Int): Seq[JsonNode] = (0 until 500).map { i =>
    val n = b * 500 + i
    mapper.readTree(s"""{"time": ${Jan1 + (n % 26) * Week + n}, """ +
      s""""value": $n, "name": "s${n % 50}", "host": "h${n % 7}"}""")
  }

  /** (name, time_ms) -> value, as `read` returns the store. */
  private def readBack(g: Graft): Map[(String, Long), Double] =
    g.read("""{"match_all":{}}""").select("name", "time_ms", "value")
      .as[(String, Long, Double)].collect()
      .map { case (n, t, v) => (n, t) -> v }.toMap

  private def json(name: String, t: Long, v: Double): String =
    s"""{"time": $t, "value": $v, "name": "$name"}"""

  test("one queued flush over 26 interleaved buckets writes at most buckets + tasks - 1 files") {
    val g = new Graft(spark, freshRoot())
    (0 until 20).foreach(b => assert(g.writeQueued(interleaved(b)).isEmpty))
    g.flushQueued()
    val tasks = spark.sparkContext.defaultParallelism
    val frag = g.fragmentation()
    val files = frag.map(_._2).sum
    assert(frag.size == 26)
    assert(files <= 26 + tasks - 1, s"$files files for 26 buckets and $tasks write tasks")
    val back = g.read("""{"match_all":{}}""").select("time_ms", "value")
      .as[(Long, Double)].collect()
    assert(back.length == 10000)
    assert(back.map { case (t, v) =>
      val n = v.toInt
      t == Jan1 + (n % 26) * Week + n
    }.forall(identity))
    assert(back.map(_._2.toInt).toSet == (0 until 10000).toSet)
  }

  test("time-ordered flush keeps last-write-wins: rewrites, reversed arrival, in-batch duplicates") {
    // batch A arrives in DESCENDING time over 12 weekly buckets and holds
    // one in-batch duplicate key; batch B rewrites every third A key with
    // another value and adds keys of its own, so the time order moves A's
    // lines past B's inside the one flush
    val keys = (0 until 240).map(i => (s"s${i % 5}", Jan1 + (i % 12) * Week + i * 1000L))
    val aPoints = keys.zipWithIndex.map { case ((n, t), i) => (n, t, i.toDouble) }
      .sortBy(-_._2)
    val dupKey = keys(17)
    val a = aPoints :+ ((dupKey._1, dupKey._2, -1.0)) // loses: value desc
    val rewritten = keys.zipWithIndex.collect { case (k, i) if i % 3 == 0 => k }
    val b = rewritten.map { case (n, t) => (n, t, -100.0 - t % 97) } ++
      (0 until 12).map(w => ("s9", Jan1 + w * Week + 500L, w.toDouble))
    val model = scala.collection.mutable.Map.empty[(String, Long), Double]
    a.foreach { case (n, t, v) =>
      model((n, t)) = math.max(v, model.getOrElse((n, t), Double.MinValue)) }
    b.foreach { case (n, t, v) => model((n, t)) = v }

    val queued = new Graft(spark, freshRoot())
    assert(queued.writeQueued(a.map { case (n, t, v) => mapper.readTree(json(n, t, v)) }).isEmpty)
    assert(queued.writeQueued(b.map { case (n, t, v) => mapper.readTree(json(n, t, v)) }).isEmpty)
    queued.flushQueued()
    val direct = new Graft(spark, freshRoot())
    Seq(a, b).foreach { batch =>
      direct.write(spark.read.json(batch.map { case (n, t, v) => json(n, t, v) }.toDS()))
    }
    val want = model.toMap
    assert(readBack(direct) == want)
    assert(readBack(queued) == want)
    queued.compact()
    assert(readBack(queued) == want)
  }

  test("a failed flush re-queues its lines with their times; the retry lands them in time order") {
    // the store's parent is a plain file, so the first flush cannot create
    // it; once the file is gone, the retry must land every acked point
    val blocker = Files.createTempFile(Paths.get("target"), "graft-blocker", "")
    val g = new Graft(spark, s"$blocker/store")
    (0 until 4).foreach(b => assert(g.writeQueued(interleaved(b)).isEmpty))
    intercept[Exception] { g.flushQueued() }
    assert(g.writeQueued(interleaved(4)).isEmpty) // queued behind the restored lines
    Files.delete(blocker)
    g.flushQueued()
    val tasks = spark.sparkContext.defaultParallelism
    assert(g.fragmentation().map(_._2).sum <= 26 + tasks - 1)
    assert(g.read("""{"match_all":{}}""").select("value").as[Double].collect()
      .map(_.toInt).toSet == (0 until 2500).toSet)
  }
}
