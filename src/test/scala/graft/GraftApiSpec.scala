package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.tsdb.Graft

/** End-to-end roundtrip of the embedded API against real bucket-partitioned
  * storage — the reference's http-api.spec.js write/read/delete cycle
  * (test/http-api.spec.js:26-97) re-expressed.
  */
class GraftApiSpec extends SparkTestBase {
  private def freshRoot() =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), "graft-api").toString

  private def samplePoints() = {
    import spark.implicits._
    Seq(
      ("2024-01-09T10:00:00Z", 17.0, "test_series", "one"),
      ("2024-01-09T10:00:01Z", 57.0, "test_series", "two"),
      ("2024-01-19T10:00:02Z", 93.0, "test_series", "two"),
      (null, 5.0, "broken_no_time", "x"),
      ("not-a-time", 6.0, "broken_bad_time", "x")) // ANSI mode must not abort the batch
      .toDF("time", "value", "name", "some_tag")
  }

  test("write/read/count/series/select_distinct/delete roundtrip") {
    val g = new Graft(spark, freshRoot())
    val errors = g.write(samplePoints())

    // per-point errors like the reference's /write response
    assert(errors.count() == 2)
    assert(errors.select("error").collect().forall(_.getString(0) == "invalid timestamp"))

    // read everything: 3 valid points, tags + time + value
    val all = g.read("""{"match_all":{}}""")
    assert(all.count() == 3)
    assert(all.columns.toSet == Set("name", "some_tag", "time_ms", "value"))

    // filtered read
    val two = g.read("""{"term":{"some_tag":"two"}}""").collect()
    assert(two.map(_.getDouble(3)).sorted.toSeq == Seq(57.0, 93.0))

    // time-range read is [start, end)
    val jan9 = g.read("""{"match_all":{}}""",
      startMs = 1704758400000L, endMs = 1704844800000L) // 2024-01-09 full day
    assert(jan9.count() == 2)

    // nested series response shape: tags + sorted [time, value] arrays
    val series = g.readSeries("""{"match_all":{}}""").collect()
    assert(series.length == 2)
    val two2 = series.find(r => r.getString(1) == "two").get
      .getSeq[org.apache.spark.sql.Row](2)
    assert(two2.map(_.getDouble(1)) == Seq(57.0, 93.0), "points sorted by time")

    // per-series counts
    val counts = g.countPoints("""{"match_all":{}}""").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("test_series", "one") -> 1L, ("test_series", "two") -> 2L))

    // stream list + select_distinct
    assert(g.seriesList("""{"match_all":{}}""").count() == 2)
    assert(g.selectDistinct(Seq("some_tag")).collect().map(_.getString(0)).toSeq
      == Seq("one", "two"))
    // missing key surfaces as null column
    val md = g.selectDistinct(Seq("some_tag", "nope")).collect()
    assert(md.forall(_.isNullAt(1)))

    // retention: from day 19745 (2024-01-23), keep 7 days -> the 19726 bucket
    // (ends 19732, age > 7d) drops, the 19740 bucket stays
    val dropped = g.remove(keepDays = 7, todayDay = 19745L)
    assert(dropped == Seq(19726L), s"dropped $dropped")
    assert(g.read("""{"match_all":{}}""").count() == 1)

    // idempotent: nothing left to drop
    assert(g.remove(keepDays = 7, todayDay = 19745L).isEmpty)
  }

  test("per-space granularity: daily buckets partition per day") {
    val g = new Graft(spark, freshRoot(), spaceGranularity = Map("default" -> 1))
    import spark.implicits._
    g.write(Seq(
      ("2024-01-09T10:00:00Z", 1.0, "s"),
      ("2024-01-10T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    // day-granularity: each point in its own bucket (19731, 19732)
    val counts = g.countPoints("""{"match_all":{}}""").collect()
    assert(counts.map(_.getLong(1)).sum == 2)
    // today=19732, keep 1 day -> doomed=19731: bucket 19731 (ends 19731)
    // drops, bucket 19732 survives
    val dropped = g.remove(keepDays = 1, todayDay = 19732L)
    assert(dropped == Seq(19731L), s"daily bucket 19731 ages out first: $dropped")
  }

  test("streaming ingest lands points the embedded API can query") {
    import spark.implicits._
    val root = freshRoot()
    val src = freshRoot(); val ckpt = freshRoot()
    val g = new Graft(spark, root)
    // the space already has a snapshot when the stream starts
    g.write(Seq(("2024-01-09T09:00:00Z", 3.5, 8L, "seed"))
      .toDF("time", "value", "user_id", "event_type"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/pts.json"),
      Seq(
        """{"time":"2024-01-09T10:00:00Z","value":4.5,"user_id":9,"event_type":"click"}""",
        """{"time":"2024-01-16T10:00:00Z","value":5.5,"user_id":9,"event_type":"view"}""")
        .mkString("\n").getBytes("UTF-8"))
    val q = graft.streaming.IngestStream.start(spark, src, g, "default", ckpt)
    q.processAllAvailable(); q.stop()
    assert(g.read("""{"term":{"event_type":"click"}}""").count() == 1)
    assert(g.seriesList("""{"match_all":{}}""").count() == 3)
    // streamed points are committed by the store's own writer, so a
    // zero-grace vacuum down to the newest snapshot reclaims none of them
    assert(g.vacuum(keepSnapshots = 1, orphanGraceMs = 0L).isEmpty)
    assert(g.read("""{"match_all":{}}""").count() == 3)
    assert(g.remove(keepDays = 7, todayDay = 19745L) == Seq(19726L))
    assert(g.read("""{"match_all":{}}""").count() == 1)
  }

  test("spaces are isolated, each with its own granularity") {
    // reference multiple-spaces.spec.js: default=1 day, other=7 days at once
    val g = new Graft(spark, freshRoot(),
      spaceGranularity = Map("alpha" -> 1, "beta" -> 7))
    import spark.implicits._
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s"), ("2024-01-10T10:00:00Z", 1.5, "s"))
      .toDF("time", "value", "name"), space = "alpha")
    g.write(Seq(("2024-01-09T10:00:00Z", 2.0, "s"), ("2024-01-10T10:00:01Z", 3.0, "s"))
      .toDF("time", "value", "name"), space = "beta")
    assert(g.read("""{"match_all":{}}""", space = "alpha").count() == 2)
    assert(g.read("""{"match_all":{}}""", space = "beta").count() == 2)
    assert(g.read("""{"match_all":{}}""", space = "nonexistent").count() == 0)
    // alpha buckets daily (19731, 19732); beta buckets weekly (one dir 19726)
    val alphaDirs = g.remove(keepDays = 0, space = "alpha", todayDay = 19999L)
    val betaDirs = g.remove(keepDays = 0, space = "beta", todayDay = 19999L)
    assert(alphaDirs == Seq(19731L, 19732L), s"daily buckets: $alphaDirs")
    assert(betaDirs == Seq(19726L), s"weekly bucket: $betaDirs")
  }

  test("boots from the reference's shipped config file; daily + weekly spaces roundtrip") {
    // the VERBATIM shipped file parses: port + per-space granularity, with
    // the cassandra/elasticsearch backend blocks accepted-and-ignored
    val shipped = Graft.loadConfig(spark, "/root/reference/conf/orestes-config.json")
    assert(shipped.port == 9668)
    assert(shipped.spaceGranularity == Map("default" -> 1))

    // the same shape extended with a weekly space — the reference's
    // multiple-spaces layout (test/multiple-spaces.spec.js) as config
    val root = freshRoot()
    val cfgPath = java.nio.file.Paths.get(root, "orestes-config.json")
    Files.write(cfgPath,
      """{"port": 9668,
          "cassandra": {"host": "127.0.0.1", "native_transport_port": 9042},
          "elasticsearch": {"host": "localhost", "port": 9200},
          "spaces": {"default": {"table_granularity_days": 1},
                     "weekly": {"table_granularity_days": 7}}}""".getBytes("UTF-8"))
    val g = Graft.fromConfig(spark, cfgPath.toString, s"$root/store")
    import spark.implicits._
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s"), ("2024-01-10T10:00:00Z", 2.0, "s"))
      .toDF("time", "value", "name"))
    g.write(Seq(("2024-01-09T10:00:00Z", 3.0, "s"), ("2024-01-10T10:00:00Z", 4.0, "s"))
      .toDF("time", "value", "name"), space = "weekly")
    assert(g.read("""{"match_all":{}}""").count() == 2)
    assert(g.read("""{"match_all":{}}""", space = "weekly").count() == 2)
    // config granularities drove the layout: daily 19731+19732, weekly 19726
    assert(g.remove(keepDays = 0, todayDay = 19999L) == Seq(19731L, 19732L))
    assert(g.remove(keepDays = 0, space = "weekly", todayDay = 19999L) == Seq(19726L))
  }

  test("config-declared keep_days drives the retention sweep per space") {
    val root = freshRoot()
    val cfgPath = java.nio.file.Paths.get(root, "orestes-config.json")
    // keep_days is the graft config extension: the reference only accepts
    // it per /delete request (orestes-remover.js:19)
    Files.write(cfgPath,
      """{"spaces": {"default": {"table_granularity_days": 1, "keep_days": 7},
                     "archive": {"table_granularity_days": 1}}}""".getBytes("UTF-8"))
    val cfg = Graft.loadConfig(spark, cfgPath.toString)
    assert(cfg.spaceKeepDays == Map("default" -> 7))
    val g = Graft.fromConfig(spark, cfgPath.toString, s"$root/store")
    import spark.implicits._
    val pts = Seq(("2024-01-09T10:00:00Z", 1.0, "s"), ("2024-01-18T10:00:00Z", 2.0, "s"))
      .toDF("time", "value", "name")
    g.write(pts)
    g.write(pts, space = "archive")
    // day 19745, keep 7 => doomed <= 19738: bucket 19731 drops, 19740
    // survives; the archive space has NO keep_days and must be untouched
    assert(g.retentionSweep(todayDay = 19745L) == Map("default" -> Seq(19731L)))
    assert(g.read("""{"match_all":{}}""").count() == 1)
    assert(g.read("""{"match_all":{}}""", space = "archive").count() == 2)
    // idempotent: the doomed bucket is already gone
    assert(g.retentionSweep(todayDay = 19745L) == Map("default" -> Seq()))
  }

  test("filters on never-written tags match nothing, like ES filter context") {
    val g = new Graft(spark, freshRoot())
    import spark.implicits._
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    // the reference forwards filters verbatim to ES; an unindexed field
    // matches nothing in filter context — never an error
    assert(g.read("""{"term":{"ghost":"x"}}""").count() == 0)
    assert(g.read("""{"range":{"ghost":{"gte":1}}}""").count() == 0)
    assert(g.read("""{"prefix":{"ghost":"a"}}""").count() == 0)
    assert(g.read("""{"wildcard":{"ghost":"a*"}}""").count() == 0)
    assert(g.read("""{"exists":{"field":"ghost"}}""").count() == 0)
    assert(g.countPoints("""{"term":{"ghost":"x"}}""").count() == 0)
    assert(g.seriesList("""{"terms":{"ghost":["x","y"]}}""").count() == 0)
    // and negations of an unknown field match everything
    assert(g.read("""{"not":{"term":{"ghost":"x"}}}""").count() == 1)
    assert(g.read("""{"bool":{"must_not":{"exists":{"field":"ghost"}}}}""").count() == 1)
    // dotted path whose root column was never written: same contract
    assert(g.read("""{"term":{"ghost.k":"x"}}""").count() == 0)
  }

  test("pre-1970 timestamps bucket negatively and read back") {
    val g = new Graft(spark, freshRoot())
    import spark.implicits._
    // 1969-12-25T00:00Z = -604800000 ms -> epoch day -7 -> weekly bucket -7
    val errs = g.write(Seq((-604800000L, 4.0, "s"), (1704794400000L, 5.0, "s"))
      .toDF("time", "value", "name"))
    assert(errs.count() == 0)
    val all = g.read("""{"match_all":{}}""").collect().map(_.getLong(1)).sorted
    assert(all.toSeq == Seq(-604800000L, 1704794400000L), s"got ${all.toSeq}")
    // explicit negative range hits only the pre-1970 bucket
    val old = g.read("""{"match_all":{}}""", startMs = -700000000L, endMs = 0L)
    assert(old.collect().map(_.getLong(1)).toSeq == Seq(-604800000L))
  }

  test("numeric epoch-millis times are accepted, as longs and as strings") {
    val g = new Graft(spark, freshRoot())
    import spark.implicits._
    // 1704794400000 = 2024-01-09T10:00Z
    val asLong = Seq((1704794400000L, 1.0, "s")).toDF("time", "value", "name")
    val asString = Seq(("1704794403000", 2.0, "s")).toDF("time", "value", "name")
    assert(g.write(asLong).count() == 0, "no errors for numeric time")
    assert(g.write(asString).count() == 0, "no errors for numeric-string time")
    val rows = g.read("""{"match_all":{}}""").collect().map(_.getLong(1)).sorted
    assert(rows.toSeq == Seq(1704794400000L, 1704794403000L))
  }

  test("writes to one schema accumulate across calls (append)") {
    val g = new Graft(spark, freshRoot())
    import spark.implicits._
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    g.write(Seq(("2024-01-09T10:00:01Z", 2.0, "s")).toDF("time", "value", "name"))
    assert(g.read("""{"match_all":{}}""").count() == 2)
    // DISTINCT points accumulate; the same (series, time) point re-written
    // overwrites instead (upsert parity — see the dedicated test)
    g.write(Seq(("2024-01-09T10:00:01Z", 3.0, "s")).toDF("time", "value", "name"))
    assert(g.read("""{"match_all":{}}""").count() == 2)
  }

  test("spaces() lists exactly the namespaces holding data") {
    val g = new Graft(spark, freshRoot())
    import spark.implicits._
    assert(g.spaces().isEmpty)
    val pts = Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name")
    g.write(pts)
    g.write(pts, space = "metrics")
    assert(g.spaces() == Seq("default", "metrics"))
  }

  test("compaction merges fragmented buckets and preserves the data") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    import spark.implicits._
    // five separate appends -> at least five files in the 2024-01-09 bucket
    (1 to 5).foreach { i =>
      g.write(Seq((s"2024-01-09T10:00:0$i" + "Z", i.toDouble, "s", s"tag$i"))
        .toDF("time", "value", "name", "some_tag"))
    }
    val before = g.read("""{"match_all":{}}""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(g.fragmentation().map(b => (b._1, b._2 >= 5)) == Seq((19726L, true)))

    val report = g.compact()
    assert(report.map(t => (t._1, t._3)) == Seq((19726L, 1)))
    assert(report.head._2 >= 5)
    // the live set is one file; the retired ones stay on disk for pinned
    // readers until a vacuum down to the newest snapshot reclaims them
    assert(g.fragmentation().map(b => (b._1, b._2)) == Seq((19726L, 1)))
    val bdir = new java.io.File(s"$root/default/bucket_day=19726")
    def onDisk = bdir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(onDisk >= 6)
    g.vacuum(keepSnapshots = 1)
    assert(onDisk == 1)

    // identical content, still readable through every API path
    val after = g.read("""{"match_all":{}}""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(after == before)
    // a second pass is a no-op (already at the target file count)
    assert(g.compact().isEmpty)
  }

  test("storage ops work through an explicit file:-scheme Hadoop FileSystem URI") {
    // same API calls, but the root is a URI — exercising the Hadoop
    // FileSystem path (the one HDFS/S3 would take), not java.io.File
    val root = "file://" + java.nio.file.Paths.get(freshRoot()).toAbsolutePath
    val g = new Graft(spark, root)
    import spark.implicits._
    (1 to 5).foreach { i =>
      g.write(Seq((s"2024-01-09T10:00:0$i" + "Z", i.toDouble, "s", s"tag$i"))
        .toDF("time", "value", "name", "some_tag"))
    }
    g.write(Seq(("2024-01-09T10:00:00Z", 9.0, "s")).toDF("time", "value", "name"),
      space = "metrics")
    assert(g.spaces() == Seq("default", "metrics"))
    assert(g.read("""{"match_all":{}}""").count() == 5)
    val report = g.compact()
    assert(report.map(t => (t._1, t._3)) == Seq((19726L, 1)))
    assert(g.read("""{"match_all":{}}""").count() == 5)
    assert(g.remove(keepDays = 0, todayDay = 19999L) == Seq(19726L))
    assert(g.read("""{"match_all":{}}""").count() == 0)
  }

  test("re-writing a point overwrites it, last write wins (Cassandra upsert parity)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    import spark.implicits._
    def pt(v: Double) =
      Seq(("2024-01-09T10:00:00Z", v, "s")).toDF("time", "value", "name")
    g.write(pt(1.0), writeSeq = 1L)
    g.write(pt(2.0), writeSeq = 2L) // same (series, time): overwrite
    val after2 = g.read("""{"match_all":{}}""").collect()
    assert(after2.length == 1 && after2(0).getDouble(2) == 2.0, after2.mkString(","))
    // an OLDER write arriving late must not resurrect (last-write-wins,
    // not last-arrival-wins)
    g.write(pt(0.5), writeSeq = 0L)
    val after3 = g.read("""{"match_all":{}}""").collect()
    assert(after3.length == 1 && after3(0).getDouble(2) == 2.0, after3.mkString(","))
    // counts see the merged view too
    assert(g.countPoints("""{"match_all":{}}""").collect().map(_.getLong(1)).toSeq
      == Seq(1L))
    // compaction applies the merge physically AND drops the stamp: the
    // bucket's parquet holds one stamp-less row per (series, time)
    val report = g.compact(targetBytes = 1L << 30)
    assert(report.map(_._3) == Seq(1), report.toString)
    // vacuum to the newest snapshot: the bucket dir then holds only the
    // compacted file, so the physical result is visible on disk
    g.vacuum(keepSnapshots = 1)
    val bucket = java.nio.file.Paths.get(root, "default", "bucket_day=19726")
    val physical = spark.read.parquet(bucket.toString)
    assert(physical.count() == 1 && !physical.columns.contains("__wseq"))
    // ... so the fully-compacted store reads with NO merge window at all —
    // the WindowGroupLimit disappears from the plan (the point of
    // compacting: cold data stops re-paying the merge on every read)
    val afterCompactDf = g.read("""{"match_all":{}}""")
    val compactPlan = afterCompactDf.queryExecution.executedPlan.toString
    assert(!compactPlan.contains("Window"), s"merge window survived compact:\n$compactPlan")
    val afterCompact = afterCompactDf.collect()
    assert(afterCompact.length == 1 && afterCompact(0).getDouble(2) == 2.0)
    // a write after compaction still overwrites the compacted point: its
    // files re-introduce the stamp via mergeSchema and DESC NULLS LAST
    // ranks every stamped row above the stamp-less compacted one
    g.write(pt(9.0), writeSeq = 9L)
    assert(g.read("""{"match_all":{}}""").collect()(0).getDouble(2) == 9.0)
    // ... and the merge window comes back only while stamps exist
    g.compact(targetBytes = 1L << 30)
    assert(g.read("""{"match_all":{}}""").collect()(0).getDouble(2) == 9.0)
  }

  test("time-ranged reads prune bucket_day directories and never open out-of-range buckets") {
    val root = freshRoot()
    val g = new Graft(spark, root, spaceGranularity = Map("default" -> 1))
    import spark.implicits._
    g.write(Seq(
      ("2024-01-09T10:00:00Z", 1.0, "s"),   // bucket_day=19731
      ("2024-01-14T10:00:00Z", 2.0, "s"),   // bucket_day=19736
      ("2024-01-19T10:00:00Z", 3.0, "s"))   // bucket_day=19741
      .toDF("time", "value", "name"))
    val day14 = 19736L * 86400000L
    // build BOTH reads before tampering: each captures the full file listing
    val ranged = g.read("""{"match_all":{}}""",
      startMs = day14, endMs = day14 + 86400000L)
    val full = g.read("""{"match_all":{}}""")
    // the time range lands as non-empty PartitionFilters on bucket_day —
    // the §5 scale story's free directory pruning, asserted on the plan
    val plan = ranged.queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: \\[", 2)
    assert(pf.length == 2 && pf(1).contains("bucket_day") &&
      !pf(1).trim.startsWith("]"), s"expected bucket_day PartitionFilters:\n$plan")
    // delete the out-of-range buckets' data files: any scan that touched
    // them would now fail, so a green ranged read PROVES they were pruned
    val space = java.nio.file.Paths.get(root, "default")
    Seq("bucket_day=19731", "bucket_day=19741").foreach { b =>
      val dir = space.resolve(b)
      java.nio.file.Files.list(dir).forEach(p => java.nio.file.Files.delete(p))
    }
    val rows = ranged.collect()
    assert(rows.map(_.getDouble(2)).toSeq == Seq(2.0), rows.mkString(","))
    // the unranged read DOES scan those directories -> must fail on the
    // missing files (proving the ranged read's success was real pruning)
    intercept[Exception] { full.collect() }
  }
}
