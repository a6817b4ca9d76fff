package graft

import org.apache.spark.sql.SparkSession

/** Multi-process commit-claim exerciser (r17, VERDICT r16 #4): the
  * manifest commit's optimistic re-apply loop is spec-proven against
  * in-process threads, but its real adversary is a SECOND JVM — the
  * in-process mutation lock cannot serialize that, only the create-only
  * `m<seq>` claim can. This main is one such adversary: it boots its own
  * SparkSession, opens the SHARED store root, and
  * commits `nBatches` write batches (plus a compaction every third
  * batch, so full-manifest commits race the appends too), logging every
  * committed snapshot seq with this process's PID. The spec launches two
  * of these against one root, barriered on a go-file so the commit
  * windows genuinely overlap, then asserts the snapshot chain is linear
  * (no seq gaps — every lost claim re-applied, none gave up) and that
  * EVERY batch from BOTH writers is readable (zero lost commits).
  *
  * Args: <storeRoot> <writerId> <nBatches> <goFile>
  */
object ClaimRace {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val id = args(1)
    val n = args(2).toInt
    val goFile = java.nio.file.Paths.get(args(3))
    val pid = ProcessHandle.current().pid()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .appName(s"graft-claimrace-$id")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val g = new graft.tsdb.Graft(spark, root)
    // start barrier: session boot time varies by seconds — without this
    // one writer could finish before the other's first commit
    while (!java.nio.file.Files.exists(goFile)) Thread.sleep(20L)
    println(s"[claimrace $id pid=$pid] go")
    (0 until n).foreach { i =>
      // unique (series, time) per (writer, batch): last-write-wins can
      // never merge rows across writers, so a lost commit is countable
      val points = (0 until 10).map { j =>
        // %02d keeps the hour a valid ISO timestamp past i=9 — T0$i
        // rendered T010 and write() validation silently rejected those
        // batches as malformed (r17 ADVICE); hour+minute keep the
        // (series, time) pairs unique per batch up to nBatches=1440
        (f"2024-01-01T${i % 24}%02d:${i / 24}%02d:$j%02dZ", i * 10.0 + j, s"w$id")
      }
      g.write(points.toDF("time", "value", "name"))
      val snap = g.snapshots().last
      println(s"[claimrace $id pid=$pid] batch=$i committed, snap=$snap")
      if (i % 3 == 2) {
        g.compact()
        println(s"[claimrace $id pid=$pid] compacted after batch $i, " +
          s"snap=${g.snapshots().last}")
      }
    }
    println(s"[claimrace $id pid=$pid] done: ${n * 10} points committed")
    spark.stop()
  }
}
