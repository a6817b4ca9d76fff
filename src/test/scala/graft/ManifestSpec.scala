package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.tsdb.Graft

/** Manifest/snapshot storage (r13): every mutation commits a snapshot
  * (a small file list), reads plan from the newest committed snapshot, and
  * rewrites delete NOTHING until vacuum — lock-free snapshot isolation under
  * compaction/retention, plus time travel for free. The reference gets this
  * from Cassandra's live-SSTable set; parquet directories need the layer
  * supplied explicitly.
  */
class ManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-manifest").toString

  private def store(root: String) = new Graft(spark, root)

  private def contentOf(g: Graft, space: String = "default"): Set[(Long, Double, String)] =
    g.read("""{"match_all":{}}""", space = space).collect()
      .map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"),
        r.getAs[String]("name"))).toSet

  test("manifest store: write/read parity, LWW overwrite, time-range pruning") {
    val g = store(freshRoot())
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s"), ("2024-01-19T10:00:00Z", 2.0, "s"))
      .toDF("time", "value", "name"))
    g.write(Seq(("2024-01-09T10:00:00Z", 9.0, "s")).toDF("time", "value", "name"))

    // LWW merge-on-read: the overwrite wins, one row per (series, time)
    assert(contentOf(g) ==
      Set((1704794400000L, 9.0, "s"), (1705658400000L, 2.0, "s")))
    // [start, end) range read prunes to the Jan-9 bucket
    val jan9 = g.read("""{"match_all":{}}""",
      startMs = 1704758400000L, endMs = 1704844800000L).collect()
    assert(jan9.map(_.getAs[Double]("value")).toSeq == Seq(9.0))
    // the queued facade path lands + commits through the same write()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val errs = g.writeQueued(Seq(om.readTree(
      """{"time": "2024-01-09T11:00:00Z", "value": 3.5, "name": "s"}""")))
    assert(errs.isEmpty)
    assert(contentOf(g).size == 3) // read flushes (read-your-writes)
    assert(g.snapshots().size == 3) // one commit per landed mutation
  }

  test("reader pinned pre-compaction streams fully AFTER the rewrite — no retry, no error") {
    val g = store(freshRoot())
    // several stamped appends -> fragmented, merge window on read
    (1 to 4).foreach { i =>
      g.write(Seq(("2024-01-09T10:00:00Z", i.toDouble, "s"),
        (s"2024-01-09T10:00:0${i}Z", i * 10.0, "s")).toDF("time", "value", "name"))
    }
    val preSnap = g.snapshots().last
    val pre = g.read("""{"match_all":{}}""") // plans from preSnap's file list
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toSet
    val expected = rows(pre.collect())

    val compacted = g.compact()
    assert(compacted.nonEmpty, "stamped buckets must compact")
    assert(g.snapshots().last > preSnap, "compaction commits a new snapshot")

    // THE point of snapshots: the pre-compaction plan's files still exist,
    // so a full re-execution of the pinned frame succeeds bit-for-bit — a
    // listing-planned read fails here with FAILED_READ_FILE
    assert(rows(pre.collect()) == expected)

    // post-compaction read: same logical content, stamp retired
    assert(rows(g.read("""{"match_all":{}}""").collect()) == expected)
    assert(g.fragmentation().forall(!_._4), "compacted buckets carry no stamps")
    // later writes still win LWW over compacted rows
    g.write(Seq(("2024-01-09T10:00:00Z", 99.0, "s")).toDF("time", "value", "name"))
    assert(g.read("""{"term":{"name":"s"}}""", startMs = 1704794400000L,
      endMs = 1704794400001L).collect().map(_.getAs[Double]("value")).toSeq == Seq(99.0))
  }

  test("time travel: readAt pins history; retention is logical until vacuum reclaims") {
    val root = freshRoot()
    val g = store(root)
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    val s1 = g.snapshots().last
    g.write(Seq(("2024-01-09T10:00:00Z", 2.0, "s"),
      ("2024-03-09T10:00:00Z", 3.0, "s")).toDF("time", "value", "name"))
    val s2 = g.snapshots().last

    // snapshot s1 predates both the overwrite and the March point
    assert(g.readAt(s1, """{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    assert(g.readAt(s2, """{"match_all":{}}""").count() == 2)

    // retention drops the January bucket LOGICALLY: live reads exclude it,
    // the pinned snapshot still serves it, the files remain on disk
    val dropped = g.remove(keepDays = 30, todayDay = 19800) // ~2024-03-18
    assert(dropped.nonEmpty)
    assert(g.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    assert(g.readAt(s2, """{"match_all":{}}""").count() == 2)

    // vacuum(keep=1): only the newest snapshot's files survive; the January
    // files and the expired manifests go; the live read is untouched
    val deleted = g.vacuum(keepSnapshots = 1)
    assert(deleted.nonEmpty)
    assert(g.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    assert(g.snapshots().size == 1)
    intercept[IllegalArgumentException] { g.readAt(s2, """{"match_all":{}}""") }
    // the dropped bucket's directory is physically gone after vacuum
    val jan = new java.io.File(s"$root/default")
      .listFiles().filter(_.getName.startsWith("bucket_day="))
    assert(jan.length == 1, s"only the March bucket dir survives, got ${jan.toSeq}")
  }

  test("crash states are invisible: orphan data files and tmp manifests never surface") {
    val root = freshRoot()
    val g = store(root)
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    val bucket = new java.io.File(s"$root/default").listFiles()
      .filter(_.getName.startsWith("bucket_day=")).head
    val live = bucket.listFiles().filter(_.getName.endsWith(".parquet")).head

    // a data file whose commit crashed before its manifest rename: on disk,
    // in no snapshot — reads skip it, the next append does not adopt it
    val orphan = new java.io.File(bucket, "orphan-" + live.getName)
    Files.copy(live.toPath, orphan.toPath)
    assert(contentOf(g).size == 1)
    g.write(Seq(("2024-01-09T11:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    assert(contentOf(g).size == 2, "orphan must not ride in on the append diff")

    // a crashed manifest commit's tmp file: resolution ignores non-m names
    val mdir = new java.io.File(s"$root/.manifest/default")
    val snapsBefore = g.snapshots()
    Files.write(new java.io.File(mdir, ".tmp-m99").toPath, "garbage".getBytes)
    assert(g.snapshots() == snapsBefore,
      "an uncommitted tmp manifest must not change snapshot resolution")
    assert(contentOf(g).size == 2)

    // vacuum sweeps both — grace 0: these are FRESH fakes, and under the
    // default grace vacuum would (correctly) leave them as possible
    // in-flight cross-process commits
    g.vacuum(keepSnapshots = 1, orphanGraceMs = 0)
    assert(!orphan.exists(), "vacuum reclaims unreferenced files")
    assert(!new java.io.File(mdir, ".tmp-m99").exists())
    assert(contentOf(g).size == 2)
  }

  test("the manifest carries the live schema: stamp retirement and tag lifecycle are metadata, not footer reads") {
    val g = store(freshRoot())
    // two stamped generations -> reads need the LWW merge window
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    g.write(Seq(("2024-01-09T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    assert(g.read("""{"match_all":{}}""").queryExecution.executedPlan.toString
      .contains("Window"), "stamped store must read through the merge window")

    // a full compaction retires every stamp; the manifest schema drops
    // __wseq at COMMIT, so the very next read plans window-free without
    // opening a single parquet footer
    assert(g.compact().nonEmpty)
    val plan = g.read("""{"match_all":{}}""").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"compacted store must read window-free:\n$plan")
    assert(g.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(2.0))

    // schema evolution: a later batch adds a tag; old rows surface it null
    g.write(Seq(("2024-01-09T11:00:00Z", 3.0, "s", "east"))
      .toDF("time", "value", "name", "dc"))
    val evolved = g.read("""{"match_all":{}}""")
    assert(evolved.columns.contains("dc"))
    assert(evolved.where(col("dc").isNull).count() == 1)

    // a type-conflicting tag fails the WRITE that introduces it (the same
    // incompatibility parquet mergeSchema would throw at read time)
    val err = intercept[IllegalArgumentException] {
      g.write(Seq(("2024-01-09T12:00:00Z", 4.0, "s", 7L))
        .toDF("time", "value", "name", "dc"))
    }
    assert(err.getMessage.contains("dc"), err.getMessage)
  }

  test("retention re-derives the live schema: a tag unique to dropped buckets leaves it") {
    val g = store(freshRoot())
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s", "janproc"))
      .toDF("time", "value", "name", "jan_only"))
    g.write(Seq(("2024-03-09T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    assert(g.read("""{"match_all":{}}""").columns.contains("jan_only"))
    assert(g.remove(keepDays = 30, todayDay = 19800).nonEmpty)
    val after = g.read("""{"match_all":{}}""")
    assert(!after.columns.contains("jan_only"),
      s"dropped bucket's tag must leave the schema, got ${after.columns.toSeq}")
    assert(after.collect().map(_.getAs[Double]("value")).toSeq == Seq(2.0))
  }

  test("continuous ingest composes: micro-batches commit snapshots, pinned readers survive ingest + compaction, vacuum runs mid-stream") {
    val g = store(freshRoot())
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def batch(b: Int) = (0 until 50).map(i => om.readTree(
      s"""{"time": ${1704672000000L + b * 50000L + i * 1000L}, "value": ${i}.0,
          "name": "cpu", "host": "h${i % 5}"}"""))
    (0 until 4).foreach(b => g.writeSpooled(batch(b)))
    g.awaitContinuous()
    assert(g.snapshots().nonEmpty,
      "spooled micro-batches land through write() and commit snapshots")
    assert(g.read("""{"match_all":{}}""").count() == 200)

    // pin a reader, then keep ingesting and compact underneath it
    val pre = g.read("""{"match_all":{}}""")
    (4 until 8).foreach(b => g.writeSpooled(batch(b)))
    g.awaitContinuous()
    assert(g.compact().nonEmpty, "spool-landed buckets are stamped -> compact")
    assert(pre.count() == 200,
      "reader pinned before later ingest + compaction replays ITS snapshot")
    assert(g.read("""{"match_all":{}}""").count() == 400)

    // vacuum while the standing query is still up: mutation-locked, and the
    // live read is untouched
    g.vacuum(keepSnapshots = 1)
    assert(g.read("""{"match_all":{}}""").count() == 400)
    g.stopContinuous()
  }

  test("HTTP facade over a manifest store: write/count/read/delete over real sockets, compaction + vacuum underneath") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val g = store(freshRoot())
    val srv = new graft.http.GraftHttpServer(g, spark)
    val port = srv.start()
    def post(path: String, body: String): (Int, String) = {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def countAll(): Long = {
      val (c, b) = post("/count/default", "{}")
      assert(c == 200, b)
      val series = om.readTree(b).get("series")
      (0 until series.size()).map(series.get(_).get("count").asLong()).sum
    }
    try {
      val jan = 1704794400000L // 2024-01-09
      val mar = 1709978400000L // 2024-03-09
      (0 until 3).foreach { j =>
        val pts = (0 until 10).map(i =>
          s"""{"time":${jan + j * 1000 + i},"value":${i}.0,"name":"cpu","host":"h${i % 4}"}""")
          .mkString("""{"points":[""", ",", "]}")
        val (c, b) = post("/write/default", pts)
        assert(c == 200 && om.readTree(b).get("errors").size() == 0, b)
      }
      val (cm, _) = post("/write/default",
        s"""{"points":[{"time":$mar,"value":9.0,"name":"cpu","host":"h0"}]}""")
      assert(cm == 200)
      assert(countAll() == 31)
      assert(g.snapshots().nonEmpty, "facade writes commit snapshots")

      // compact + vacuum underneath the live server; HTTP reads unchanged
      assert(g.compact().nonEmpty)
      g.vacuum(keepSnapshots = 1)
      assert(countAll() == 31)
      val (cr, br) = post("/read/default", """{"filter":{"term":{"host":"h0"}}}""")
      assert(cr == 200 && br.contains("points"), br)

      // retention over HTTP is a manifest commit (2024 buckets are long
      // past any wall-clock keep_days=30); files linger until vacuum
      val (cd, bd) = post("/delete/default", """{"keep_days": 30}""")
      assert(cd == 200 && om.readTree(bd).get("dropped_buckets").size() >= 2, bd)
      assert(countAll() == 0)
      val reclaimed = g.vacuum(keepSnapshots = 1)
      assert(reclaimed.nonEmpty, "vacuum reclaims the dropped buckets' files")
    } finally srv.stop()
  }

  test("sqlAt: ANSI SQL pinned to a snapshot, joinable against the live view") {
    val g = store(freshRoot())
    // a suite-unique space: graft_default may legitimately be owned by
    // another suite's store in the shared session, and the clobber guard
    // then (correctly) refuses to re-register it for this one
    val sp = "mfsql"
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"),
      space = sp)
    val s1 = g.snapshots(sp).last
    g.write(Seq(("2024-01-09T10:00:00Z", 5.0, "s")).toDF("time", "value", "name"),
      space = sp)

    val hist = g.sqlAt(s1,
      s"SELECT value FROM graft_${sp}_at_$s1", space = sp).collect()
    assert(hist.map(_.getDouble(0)).toSeq == Seq(1.0), "pinned view sees history")
    // history vs now in ONE query: the live view rides along
    val drift = g.sqlAt(s1,
      s"""SELECT now.value - old.value AS drift
          FROM graft_$sp now JOIN graft_${sp}_at_$s1 old
          USING (time_ms, name)""", space = sp).collect()
    assert(drift.map(_.getDouble(0)).toSeq == Seq(4.0))
  }

  test("flag flip adopts a pre-manifest store: reads see it, writes extend it, vacuum never orphans it") {
    val root = freshRoot()
    writeLegacyStore(root, Seq(("2024-01-09T10:00:00Z", 1.0, "s"),
      ("2024-01-19T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))

    // a store opened over the pre-manifest root: the first touch commits
    // a bootstrap snapshot adopting what's on disk
    val g = store(root)
    assert(g.snapshots().isEmpty, "listing snapshots adopts nothing")
    assert(contentOf(g).size == 2, "legacy bucket-directory data must stay visible")
    assert(g.snapshots().size == 1, "one adoption snapshot")
    g.write(Seq(("2024-01-09T11:00:00Z", 3.0, "s")).toDF("time", "value", "name"))
    assert(contentOf(g).size == 3)
    // the data-loss hazard this guards: vacuum must never see legacy files
    // as orphans (they are in the adoption snapshot's lineage)
    assert(g.vacuum(keepSnapshots = 1).isEmpty,
      "no legacy file may ever be reclaimed as an orphan")
    assert(contentOf(g).size == 3)
  }

  test("config boot: manifest_snapshots flows through loadConfig/fromConfig") {
    val root = freshRoot()
    val cfg = new java.io.File(root, "config.json")
    Files.write(cfg.toPath,
      """{"port": 9668, "manifest_snapshots": true,
         "spaces": {"default": {"table_granularity_days": 1}}}""".getBytes)
    // `true` is accepted and ignored: manifest storage is the only layout
    Graft.loadConfig(spark, cfg.toString)
    val g = Graft.fromConfig(spark, cfg.toString, root + "/store")
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    assert(g.snapshots().nonEmpty, "fromConfig store must commit snapshots")
    g.vacuum()
    // `false` asked for the removed plain layout: a loud, named rejection
    // at config load, never a silently different layout
    val cfgPlain = new java.io.File(root, "plain-config.json")
    Files.write(cfgPlain.toPath, """{"manifest_snapshots": false}""".getBytes)
    val ex = intercept[IllegalArgumentException] {
      Graft.fromConfig(spark, cfgPlain.toString, root + "/plain")
    }
    assert(ex.getMessage.contains("manifest_snapshots") &&
      ex.getMessage.contains("plain"), ex.getMessage)
    assert(!new java.io.File(root, "plain").exists(),
      "a rejected config must not touch the store root")
  }

  // ---- v3 zone maps: per-file [min,max] time_ms pruning ----

  /** Every FileSourceScan in the executed plan (descending through AQE),
    * for its post-execution `numFiles` metric.
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  test("zone maps: a narrow window inside a bucket skips the bucket's non-overlapping files") {
    val root = freshRoot()
    val g = store(root)
    // three single-partition writes into the SAME day bucket with disjoint
    // hour ranges -> three files with disjoint zone maps, plus a second day
    def one(ts: String, v: Double) =
      g.write(Seq((ts, v, "s")).toDF("time", "value", "name").coalesce(1))
    one("2024-01-09T01:00:00Z", 1.0)
    one("2024-01-09T10:00:00Z", 3.0)
    one("2024-01-09T20:00:00Z", 4.0)
    one("2024-01-10T05:00:00Z", 5.0)

    // [09:30, 10:30) on Jan 9: one file's zone overlaps
    val narrow = g.read("""{"match_all":{}}""",
      startMs = 1704792600000L, endMs = 1704796200000L)
    assert(narrow.collect().map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    assert(scannedFiles(narrow) == 1,
      "the manifest zone map must skip the 01:00 and 20:00 files " +
        "without opening them (day pruning alone cannot)")

    // an unbounded read scans everything — pruning never drops a live file
    // the window could touch
    val full = g.read("""{"match_all":{}}""")
    assert(full.collect().length == 4)
    assert(scannedFiles(full) == 4)

    // entries without stats never prune: rewrite the newest snapshot's
    // segment files as stats-less entry lines (path\tsize — the current
    // format's shape for a file with no zone map or dictionary); reads
    // stay correct, just unpruned
    val mdirFs = new java.io.File(s"$root/.manifest/default")
    val newest = mdirFs.listFiles().filter(f =>
        f.getName.startsWith("m") && f.getName.tail.forall(_.isDigit))
      .maxBy(_.getName.stripPrefix("m").toLong)
    val segs = scala.io.Source.fromFile(newest, "UTF-8").getLines()
      .filter(_.startsWith("#seg\t")).map(_.split('\t')(2)).toList
    assert(segs.nonEmpty)
    segs.foreach { name =>
      val seg = new java.io.File(mdirFs, name)
      val bare = scala.io.Source.fromFile(seg, "UTF-8").getLines()
        .map(_.split('\t').take(2).mkString("\t")).toList
      assert(bare.forall(_.split('\t').length == 2))
      java.nio.file.Files.write(seg.toPath,
        bare.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the local ChecksumFileSystem keeps a .crc sibling per segment; the
      // out-of-band rewrite above must retire it or the next read fails
      new java.io.File(mdirFs, s".$name.crc").delete()
    }
    val unpruned = g.read("""{"match_all":{}}""",
      startMs = 1704792600000L, endMs = 1704796200000L)
    assert(unpruned.collect().map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    // all four files share the default 7-day bucket, so without zone maps
    // the bucket-level prune keeps everything — correct, just unpruned
    assert(scannedFiles(unpruned) == 4,
      "a stats-less manifest reads correctly with bucket-level pruning only")
  }

  test("a snapshot in the pre-r14 inline format is refused by every reader and mutator before it acts") {
    val root = freshRoot()
    val g = store(root)
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "s")).toDF("time", "value", "name"))
    g.write(Seq(("2024-01-19T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    val seqs = g.snapshots()
    assert(seqs == Seq(1L, 2L))
    // forge the newest snapshot in the inline shape (r13, v2-v4): the
    // schema header followed by the entry lines themselves, no `#seg`
    val mdir = new java.io.File(s"$root/.manifest/default")
    val newest = new java.io.File(mdir, "m2")
    def linesOf(f: java.io.File) =
      scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).toList
    val body = linesOf(newest)
    val entries = body.filter(_.startsWith("#seg\t"))
      .flatMap(l => linesOf(new java.io.File(mdir, l.split('\t')(2))))
    assert(entries.size == 2)
    java.nio.file.Files.write(newest.toPath,
      (body.filter(_.startsWith("#v2 ")) ++ entries).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(mdir, ".m2.crc").delete()
    def dataFiles(): Set[String] =
      new java.io.File(root, "default").listFiles()
        .filter(_.getName.startsWith("bucket_day="))
        .flatMap(b => b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${b.getName}/${f.getName}")).toSet
    val before = dataFiles()
    assert(before.size == 2)

    val matchAll = """{"match_all":{}}"""
    val calls: Seq[(String, () => Any)] = Seq(
      "read" -> (() => g.read(matchAll).collect()),
      "readAt" -> (() => g.readAt(2L, matchAll).collect()),
      "changes" -> (() => g.changes(1L, 2L).collect()),
      "write" -> (() => g.write(
        Seq(("2024-01-09T11:00:00Z", 3.0, "s")).toDF("time", "value", "name"))),
      "compact" -> (() => g.compact()),
      "vacuum" -> (() => g.vacuum(orphanGraceMs = 0L)))
    calls.foreach { case (name, call) =>
      val ex = intercept[IllegalStateException](call())
      assert(ex.getMessage.contains(newest.getName) &&
        ex.getMessage.contains("inline") &&
        ex.getMessage.contains("vacuum(keepSnapshots = 1)"), s"$name: ${ex.getMessage}")
    }
    assert(g.snapshots() == seqs, "no new snapshot may be committed")
    val after = dataFiles()
    assert(before.subsetOf(after), s"vacuum deleted data files: ${before.diff(after)}")
  }

  test("zone maps follow every commit: compaction rewrites them, retention drops them, pinned snapshots keep theirs") {
    val root = freshRoot()
    val g = store(root)
    def one(ts: String, v: Double) =
      g.write(Seq((ts, v, "s")).toDF("time", "value", "name").coalesce(1))
    one("2024-01-09T01:00:00Z", 1.0)
    one("2024-01-09T10:00:00Z", 3.0)
    one("2024-01-19T10:00:00Z", 7.0)
    val preSnap = g.snapshots().last

    // compaction rewrites each bucket to one file; its zone map must be the
    // REWRITTEN file's true range (01:00..10:00), so a narrow window still
    // prunes day 19's file via day pruning and scans exactly the one
    // compacted Jan-9 file
    assert(g.compact().nonEmpty)
    val narrow = g.read("""{"match_all":{}}""",
      startMs = 1704792600000L, endMs = 1704796200000L)
    assert(narrow.collect().map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    assert(scannedFiles(narrow) == 1)
    // ...and a window BELOW the compacted file's min skips it zone-wise
    // (same day, so day pruning alone would scan it)
    val below = g.read("""{"match_all":{}}""",
      startMs = 1704758400000L, endMs = 1704760200000L) // [00:00, 00:30)
    assert(below.collect().isEmpty)
    assert(scannedFiles(below) == 0,
      "the compacted file's zone map must exclude a pre-min window")

    // a reader pinned BEFORE compaction still prunes with the OLD files'
    // zone maps (stats ride the snapshot, not a global table)
    val pinned = g.readAt(preSnap, """{"match_all":{}}""",
      startMs = 1704792600000L, endMs = 1704796200000L)
    assert(pinned.collect().map(_.getAs[Double]("value")).toSeq == Seq(3.0))
    assert(scannedFiles(pinned) == 1)

    // retention drops Jan 9: its files leave the manifest WITH their zone
    // maps (the serialized entries are pruned with the file lines)
    g.remove(keepDays = 10, todayDay = 1705881600000L / graft.core.Det.MsInDay)
    val after = g.read("""{"match_all":{}}""")
    assert(after.collect().map(_.getAs[Double]("value")).toSeq == Seq(7.0))
    val mdir = new java.io.File(s"$root/.manifest/default")
    val newest = mdir.listFiles().filter(_.getName.startsWith("m"))
      .maxBy(_.getName.stripPrefix("m").toLong)
    val lines = scala.io.Source.fromFile(newest, "UTF-8").getLines().toList
    assert(!lines.exists(_.contains("bucket_day=19726")),
      s"retired bucket's entries must leave the manifest: $lines")
  }

  test("tag dictionaries: a term read skips files whose dictionary lacks the value; high-cardinality columns never prune") {
    val root = freshRoot()
    val g = store(root)
    // three single-partition writes into one bucket, disjoint host sets
    def one(ts: String, v: Double, host: String) =
      g.write(Seq((ts, v, "cpu", host)).toDF("time", "value", "name", "host")
        .coalesce(1))
    one("2024-01-09T01:00:00Z", 1.0, "h1")
    one("2024-01-09T02:00:00Z", 2.0, "h2")
    one("2024-01-09T03:00:00Z", 3.0, "h3")

    // term host=h2 with an unbounded time range: only the h2 file's
    // dictionary contains the value — 1 of 3 same-bucket files opened
    val r = g.read("""{"term":{"host":"h2"}}""")
    assert(r.collect().map(_.getAs[Double]("value")).toSeq == Seq(2.0))
    assert(scannedFiles(r) == 1,
      "the tag dictionary must skip the h1 and h3 files without opening them")
    // a value NO file holds scans nothing at all
    val none = g.read("""{"term":{"host":"h9"}}""")
    assert(none.collect().isEmpty)
    assert(scannedFiles(none) == 0)
    // terms (IN) unions the allowed set
    val two = g.read("""{"terms":{"host":["h1","h3"]}}""")
    assert(two.collect().map(_.getAs[Double]("value")).sorted.toSeq == Seq(1.0, 3.0))
    assert(scannedFiles(two) == 2)
    // dictionaries compose with the time zone map: host=h2 in a window
    // that excludes the h2 file's range scans nothing
    val miss = g.read("""{"term":{"host":"h2"}}""",
      startMs = 1704758400000L, endMs = 1704761999000L) // [00:00, 01:00)
    assert(miss.collect().isEmpty)
    assert(scannedFiles(miss) == 0)

    // a column whose per-file distinct count exceeds the cap records no
    // dictionary and never prunes — write one file with 33+ hosts, then
    // query one of them: the file must still be scanned (correctness), and
    // the manifest line for it must carry no host entry in its dict
    val big = (0 until 40).map(i =>
      (s"2024-01-09T05:${10 + i % 50}:0${i % 10}Z", 100.0 + i, "cpu", s"big$i"))
    g.write(big.toDF("time", "value", "name", "host").coalesce(1))
    val hot = g.read("""{"term":{"host":"big7"}}""")
    assert(hot.collect().map(_.getAs[Double]("value")).toSeq == Seq(107.0))
    assert(scannedFiles(hot) == 1,
      "the capped file is scanned (its dict has no host set), the three " +
        "small files prune by dictionary")
  }

  test("prefix pruning: a prefix read skips files whose dictionary holds no matching value; negated prefixes never prune (r14)") {
    val root = freshRoot()
    val g = store(root)
    // three single-partition writes into one bucket with disjoint host
    // prefixes — web-*, db-*, cache-* (the fleet-slice read the
    // reference's DSL runs constantly: {"prefix": {"host": "web-"}})
    def one(ts: String, v: Double, host: String) =
      g.write(Seq((ts, v, "cpu", host)).toDF("time", "value", "name", "host")
        .coalesce(1))
    one("2024-01-09T01:00:00Z", 1.0, "web-01")
    one("2024-01-09T02:00:00Z", 2.0, "db-01")
    one("2024-01-09T03:00:00Z", 3.0, "cache-01")

    // prefix host=web-: only the web file's dictionary has a matching
    // value — 1 of 3 same-bucket files opened, decided from the manifest
    val r = g.read("""{"prefix":{"host":"web-"}}""")
    assert(r.collect().map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    assert(scannedFiles(r) == 1,
      "the tag dictionary must skip the db- and cache- files on a prefix read")
    // a prefix NO dictionary value starts with scans nothing
    val none = g.read("""{"prefix":{"host":"gpu-"}}""")
    assert(none.collect().isEmpty)
    assert(scannedFiles(none) == 0)
    // a should-of-prefixes (OR over the same column) unions the witnesses
    val two = g.read(
      """{"bool":{"should":[{"prefix":{"host":"web-"}},
        |{"prefix":{"host":"db-"}}],"minimum_should_match":1}}""".stripMargin)
    assert(two.collect().map(_.getAs[Double]("value")).sorted.toSeq == Seq(1.0, 2.0))
    assert(scannedFiles(two) == 2)

    // the conservative-extraction property: a NEGATED prefix must never
    // prune — must_not(prefix web-) has matches in the db and cache files,
    // and the db/cache rows survive while all three files stay eligible
    // (the web file is kept too: negations contribute nothing)
    val neg = g.read(
      """{"bool":{"must_not":[{"prefix":{"host":"web-"}}]}}""")
    assert(neg.collect().map(_.getAs[Double]("value")).sorted.toSeq == Seq(2.0, 3.0))
    assert(scannedFiles(neg) == 3,
      "Not(StartsWith) must contribute nothing to pruning — skipping the " +
        "web file would be wrong-by-luck here and wrong-results elsewhere")
  }
}
