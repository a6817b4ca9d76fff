package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.tsdb.Graft

/** Round-14 storage directives: the manifest-LIST tier (snapshot →
  * per-bucket segment files, commit cost ∝ touched buckets) and
  * optimistic multi-writer commits (a lost snapshot claim re-applies
  * against the new current state instead of failing or clobbering).
  */
class Round14Spec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-r14").toString

  private def mdirOf(root: String, space: String = "default") =
    new java.io.File(s"$root/.manifest/$space")

  /** The newest snapshot file's `#seg` refs as day -> segment name. */
  private def segRefs(root: String): Map[Long, String] = {
    val mdir = mdirOf(root)
    val newest = mdir.listFiles().filter(f =>
        f.getName.startsWith("m") && f.getName.tail.forall(_.isDigit))
      .maxBy(_.getName.stripPrefix("m").toLong)
    scala.io.Source.fromFile(newest, "UTF-8").getLines()
      .filter(_.startsWith("#seg\t"))
      .map { l =>
        val p = l.stripPrefix("#seg\t").split('\t')
        p(0).toLong -> p(1)
      }.toMap
  }

  test("manifest list: an append rewrites ONLY the touched bucket's segment; every other segment is reused by name (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    def pt(ts: String, v: Double) =
      g.write(Seq((ts, v, "s")).toDF("time", "value", "name").coalesce(1))
    pt("2024-01-09T10:00:00Z", 1.0) // bucket A
    pt("2024-01-19T10:00:00Z", 2.0) // bucket B
    val before = segRefs(root)
    assert(before.size == 2, s"expected two bucket segments, got $before")

    // append into bucket B only
    pt("2024-01-19T11:00:00Z", 3.0)
    val after = segRefs(root)
    val (dayA, dayB) = (before.keys.min, before.keys.max)
    assert(after(dayA) == before(dayA),
      "the untouched bucket's segment must be REUSED by reference — " +
        "rewriting it means commit cost grows with live files again")
    assert(after(dayB) != before(dayB),
      "the touched bucket gets a fresh segment")
    // and the store reads correctly through the indirection
    assert(g.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).sorted.toSeq == Seq(1.0, 2.0, 3.0))

    // compaction (full-path commit) also reuses by CONTENT equality:
    // bucket A is 1 stamped file -> rewritten (stamp retires); after a
    // second compact pass nothing changes, so BOTH segments are reused
    // and no new snapshot-uniqueness is wasted re-serializing them
    g.compact()
    val postCompact = segRefs(root)
    g.compact() // no-op pass: nothing fragmented, nothing stamped
    assert(segRefs(root) == postCompact,
      "a no-op compaction must not rewrite any segment")
  }

  test("optimistic commit: a writer that loses the snapshot claim re-applies — BOTH processes' mutations land (r14)") {
    val root = freshRoot()
    // two Graft instances = the two-process model: separate mutation
    // locks, same store root; only the snapshot-claim protocol serializes
    val a = new Graft(spark, root)
    val b = new Graft(spark, root)
    def df(ts: String, v: Double) =
      Seq((ts, v, "s")).toDF("time", "value", "name")
    a.write(df("2024-01-09T10:00:00Z", 1.0))
    val before = a.snapshots().size

    // inject B's commit into A's claim window: A reads the current
    // snapshot, B lands seq+1 first, A's claim of seq+1 fails, A
    // re-applies and lands seq+2 — the Iceberg optimistic re-apply loop
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    a.commitRaceHook = () =>
      if (fired.compareAndSet(false, true))
        b.write(df("2024-01-10T10:00:00Z", 2.0))
    try a.write(df("2024-01-11T10:00:00Z", 3.0))
    finally a.commitRaceHook = () => ()

    assert(fired.get, "the race window must have fired")
    assert(a.snapshots().size == before + 2,
      "both commits must land as distinct snapshots — the loser re-applies")
    val vals = a.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    assert(vals == Seq(1.0, 2.0, 3.0),
      s"no mutation may be lost or clobbered: $vals")
    // the competing instance reads the identical store
    assert(b.read("""{"match_all":{}}""").count() == 3)
  }

  test("vacuum sweeps expired snapshots' segments and lost-claim orphans, never a kept snapshot's (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    def pt(ts: String, v: Double) =
      g.write(Seq((ts, v, "s")).toDF("time", "value", "name").coalesce(1))
    pt("2024-01-09T10:00:00Z", 1.0)
    pt("2024-01-09T11:00:00Z", 2.0)
    pt("2024-01-09T12:00:00Z", 3.0)
    // a forged orphan segment (the crash state a lost claim can leave)
    val orphan = new java.io.File(mdirOf(root), "g99-19730-zzzz")
    java.nio.file.Files.write(orphan.toPath,
      "bucket_day=19730/nope.parquet\t1\n".getBytes("UTF-8"))

    g.compact()
    // under the DEFAULT grace a fresh orphan survives: it is
    // indistinguishable from another process's in-flight commit (its
    // segments land before the m<seq+1> claim), so vacuum must not race it
    g.vacuum(keepSnapshots = 1)
    assert(mdirOf(root).listFiles().map(_.getName).contains(orphan.getName),
      "a young orphan is protected by the grace window")
    // grace 0 = the explicit sweep-everything mode: the orphan goes
    g.vacuum(keepSnapshots = 1, orphanGraceMs = 0)
    val segNames = mdirOf(root).listFiles().map(_.getName)
      .filter(_.startsWith("g")).toSet
    assert(!segNames.contains(orphan.getName), "orphan segments are swept")
    val kept = segRefs(root).values.toSet
    assert(segNames == kept,
      s"exactly the kept snapshot's segments survive: have $segNames, " +
        s"referenced $kept")
    // and the store still reads bit-identically after the sweep
    assert(g.read("""{"match_all":{}}""").collect()
      .map(_.getAs[Double]("value")).sorted.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("read planning fetches only in-range segments: a narrow read of a many-bucket store opens one bucket's metadata (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    // 6 buckets (default 7-day granularity, ~6 weeks)
    (0 until 6).foreach { w =>
      g.write(Seq((1704794400000L + w * 7L * 86400000L, (w + 1).toDouble, "s"))
        .toDF("time", "value", "name").coalesce(1))
    }
    assert(segRefs(root).size == 6)
    // one bucket's window: correct content (planning had to resolve only
    // that bucket's segment — the code path prunes refs before fetching;
    // correctness is what the spec can assert, the fetch count is the
    // scale script's measurement)
    val r = g.read("""{"match_all":{}}""",
      startMs = 1704794400000L, endMs = 1704794400001L)
    assert(r.collect().map(_.getAs[Double]("value")).toSeq == Seq(1.0))
  }

  test("changes(from, to): added/removed/changed rows equal the full-outer diff of the two readAt frames; compaction yields zero changes (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))
    w(("2024-01-09T10:00:00Z", 1.0, "a"), ("2024-01-09T11:00:00Z", 2.0, "b"))
    val s1 = g.snapshots().last
    w(("2024-01-19T10:00:00Z", 3.0, "c"), // added
      ("2024-01-09T11:00:00Z", 9.0, "b")) // overwritten (LWW)
    val s2 = g.snapshots().last

    val got = g.changes(s1, s2).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("time_ms"),
        Option(r.getAs[java.lang.Double]("old_value")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("new_value")).map(_.toDouble),
        r.getAs[String]("change"))).toSet
    assert(got == Set(
      ("b", 1704798000000L, Some(2.0), Some(9.0), "changed"),
      ("c", 1705658400000L, None, Some(3.0), "added")),
      s"unexpected change set: $got")

    // the contract: changes == full-outer diff of the two readAt frames
    def rowsAt(s: Long): Map[(String, Long), Double] =
      g.readAt(s, """{"match_all":{}}""").collect()
        .map(r => (r.getAs[String]("name"), r.getAs[Long]("time_ms")) ->
          r.getAs[Double]("value")).toMap
    val (bm, am) = (rowsAt(s1), rowsAt(s2))
    val expected = (bm.keySet ++ am.keySet).flatMap { k =>
      (bm.get(k), am.get(k)) match {
        case (Some(o), Some(n)) if o == n => None
        case (o, n) => Some((k._1, k._2, o, n,
          if (o.isEmpty) "added" else if (n.isEmpty) "removed" else "changed"))
      }
    }
    assert(got == expected, "changes must equal the readAt full-outer diff")

    // a same-value overwrite is NOT a change (CDC reports what a reader
    // observes, not write traffic)
    w(("2024-01-09T10:00:00Z", 1.0, "a"))
    val s3 = g.snapshots().last
    assert(g.changes(s2, s3).collect().isEmpty,
      "an overwrite landing the identical value is invisible to readers " +
        "and must be invisible to CDC")

    // compaction between snapshots: pure physical rewrite => zero logical
    // changes (and the segment fast path diffs only rewritten buckets)
    assert(g.compact().nonEmpty)
    val s4 = g.snapshots().last
    assert(g.changes(s3, s4).collect().isEmpty,
      "a physical rewrite must produce zero CDC rows")

    // retention between snapshots: the dropped bucket's rows are removed
    g.remove(keepDays = 10, todayDay = 1705881600000L / graft.core.Det.MsInDay)
    val s5 = g.snapshots().last
    val removed = g.changes(s4, s5).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("change"))).toSet
    assert(removed == Set(("a", "removed"), ("b", "removed")),
      s"retention must surface as removals: $removed")

    // identical snapshots diff to nothing, and misuse is loud
    assert(g.changes(s5, s5).collect().isEmpty)
    intercept[IllegalArgumentException] { g.changes(s5, s1) }
    intercept[IllegalArgumentException] { g.changes(999L, s5) }
    val plain = new Graft(spark, root + "/plain")
    intercept[IllegalArgumentException] { plain.changes(1L, 2L) }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("compaction daemon: a fragmented store converges to the bucket file target while POSTs and reads run — zero loss, zero dup (r14)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-daemon")
    val cfgPath = dir.resolve("orestes-config.json")
    // compaction_max_files=2 is the daemon's sweep trigger
    Files.write(cfgPath,
      """{"port": 0, "compaction_max_files": 2,
          "spaces": {"default": {"table_granularity_days": 1}}}"""
        .getBytes("UTF-8"))
    val (g, srv, _) = graft.http.ServerMain.boot(spark,
      cfgPath.toString, dir.resolve("store").toString)
    val cfg = Graft.loadConfig(spark, cfgPath.toString)
    val port = srv.start()
    try {
      // a writer thread sustains small POSTs (2 bucket days) while the
      // main thread alternates daemon sweeps (the same call the timer
      // makes) with reads through the facade
      val wErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try (0 until 24).foreach { b =>
          val pts = (0 until 5).map { i =>
            s"""{"time":${1704794400000L + (b % 2) * 86400000L + b * 5 + i},
               |"value":${b * 5 + i}.0,"name":"cpu","host":"h${i % 3}"}"""
              .stripMargin.replaceAll("\n", "")
          }.mkString(",")
          val (wc, wb) = post(port, "/write", s"[$pts]")
          assert(wc == 200 && mapper.readTree(wb).get("errors").size() == 0, wb)
          // force the queue to land often enough to fragment the buckets
          if (b % 4 == 3) g.flushQueued()
        } catch { case t: Throwable => wErr.set(t) }
      }, "r14-writer")
      writer.start()
      while (writer.isAlive) {
        g.compactionSweep(cfg.compactionMaxFiles, targetBytes = 1L << 20)
        val (rc, _) = post(port, "/read", "{}")
        assert(rc == 200)
      }
      writer.join()
      assert(wErr.get() == null, s"writer failed: ${wErr.get()}")
      // converge: land everything, then one more sweep
      g.flushQueued()
      g.compactionSweep(cfg.compactionMaxFiles, targetBytes = 1L << 20)
      val frag = g.fragmentation()
      assert(frag.nonEmpty && frag.forall(_._2 <= cfg.compactionMaxFiles),
        s"buckets must converge to <= ${cfg.compactionMaxFiles} files: $frag")
      assert(frag.forall(!_._4), "the sweep must retire every merge stamp")
      // zero loss, zero dup: 120 distinct (series, time) points
      val rows = g.read("""{"match_all":{}}""").collect()
      assert(rows.length == 120, s"expected 120 rows, got ${rows.length}")
      assert(rows.map(r => (r.getAs[String]("host"), r.getAs[Long]("time_ms")))
        .distinct.length == 120, "no (series, time) may appear twice")
    } finally srv.stop()
  }

  test("served default is manifest mode: booting over an existing PLAIN store adopts it with read parity; explicit false keeps plain (r14)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-migrate")
    val root = dir.resolve("store").toString
    // a pre-existing bucket-directory store (the migration scenario)
    writeLegacyStore(root, Seq(("2024-01-09T10:00:00Z", 1.0, "s"),
      ("2024-01-19T10:00:00Z", 2.0, "s")).toDF("time", "value", "name"))
    val before = Set((1704794400000L, 1.0), (1705658400000L, 2.0))

    // default boot (no manifest_snapshots key) = manifest storage, and the
    // first touch adopts the on-disk files as snapshot 1 — nothing is
    // lost, nothing re-written
    val cfgPath = dir.resolve("orestes-config.json")
    Files.write(cfgPath, """{"port": 0}""".getBytes("UTF-8"))
    val (g, _, _) = graft.http.ServerMain.boot(spark, cfgPath.toString, root)
    val adopted = g.read("""{"match_all":{}}""").collect()
      .map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toSet
    assert(adopted == before, "migration must preserve every row")
    assert(g.snapshots().nonEmpty, "the boot adopts the store into snapshots")

    // explicit false asked for the removed plain layout: the boot fails
    // loudly at config load, naming the key — never a different layout
    val cfgPlain = dir.resolve("plain-config.json")
    Files.write(cfgPlain,
      """{"port": 0, "manifest_snapshots": false}""".getBytes("UTF-8"))
    val root2 = dir.resolve("store2").toString
    val ex = intercept[IllegalArgumentException] {
      graft.http.ServerMain.boot(spark, cfgPlain.toString, root2)
    }
    assert(ex.getMessage.contains("\"manifest_snapshots\": false"),
      ex.getMessage)
    assert(!new java.io.File(root2).exists(), "nothing may be written")
  }

  test("ranked retrieval through the front doors: /search and Graft.search score the tag bag with the shared BM25 rule (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    // four series with overlapping tag vocabularies — ranked retrieval
    // has to order them, not just filter
    g.write(Seq(
      ("2024-01-09T10:00:00Z", 1.0, "cpu", "web-01", "frontend checkout"),
      ("2024-01-09T10:00:00Z", 2.0, "cpu", "db-01", "database primary"),
      ("2024-01-09T10:00:00Z", 3.0, "mem", "web-01", "frontend checkout"),
      ("2024-01-09T10:00:00Z", 4.0, "mem", "cache-01", "edge cache"))
      .toDF("time", "value", "name", "host", "role"))

    // the API: "cpu web-01" must rank the (cpu, web-01) series first —
    // it matches both terms; the single-term matches follow
    val api = g.search(Seq("cpu", "web-01"), k = 4).collect()
    assert(api.nonEmpty)
    assert(api.head.getAs[String]("name") == "cpu" &&
      api.head.getAs[String]("host") == "web-01",
      s"both-term series must rank first: ${api.toSeq}")
    assert(api.map(_.getAs[Double]("score")).toSeq ==
      api.map(_.getAs[Double]("score")).sorted.reverse.toSeq)

    // the contract: scores equal bm25TopKOn over the identically
    // constructed series-doc frame (ONE scoring rule, not a reimplementation)
    val tagCols = Seq("host", "name", "role") // sorted, as search() sorts
    val docs = g.read("""{"match_all":{}}""")
      .select(tagCols.map(col): _*).distinct()
      .withColumn("doc_id", xxhash64(concat_ws("",
        tagCols.map(c => coalesce(col(c), lit(""))): _*)))
      .withColumn("text", concat_ws(" ",
        tagCols.map(c => coalesce(col(c), lit(""))): _*))
    val expect = graft.text.TextOps.bm25TopKOn(
        docs.select(col("doc_id"), col("text")), Seq("cpu", "web-01"), 4)
      .join(docs, "doc_id")
      .select(col("name"), col("host"), col("score")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(api.map(r => (r.getAs[String]("name"), r.getAs[String]("host"),
      r.getAs[Double]("score"))).toSet == expect)

    // the facade: same query through HTTP, rank-identical
    val srv = new graft.http.GraftHttpServer(g, spark)
    val port = srv.start()
    try {
      val (rc, rb) = post(port, "/search", """{"q": "cpu web-01", "k": 4}""")
      assert(rc == 200, rb)
      val rows = mapper.readTree(rb).get("series")
      assert(rows.size() == api.length)
      (0 until rows.size()).foreach { i =>
        assert(rows.get(i).get("name").asText() == api(i).getAs[String]("name") &&
          rows.get(i).get("host").asText() == api(i).getAs[String]("host"),
          s"HTTP rank $i diverges: ${rows.get(i)} vs ${api(i)}")
      }
      // misuse is loud, not a 500
      assert(post(port, "/search", """{}""")._1 == 400)
    } finally srv.stop()
  }

  test("streaming quality gate: streamed scores equal the batch scorer; crash replay rewrites its partition bit-identically (r14)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp(n: String) = {
      val p = s"target/stream-test/qg-$n-${System.nanoTime()}"
      Files.createDirectories(Paths.get(p)); p
    }
    val (out, ckpt) = (tmp("out"), tmp("ckpt"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    // stream REAL corpus rows (the classifier's own training corpus) in
    // two micro-batches — the "score each ingest batch" shape
    val corpus = graft.core.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"), col("source"))
      .where(col("doc_id") < 40).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(corpus.length == 40)

    val q = graft.streaming.QualityStream.start(docs, Sf, out, ckpt)
    mem.addData(corpus.take(20).toSeq: _*)
    q.processAllAvailable()
    mem.addData(corpus.drop(20).toSeq: _*)
    q.processAllAvailable()
    q.stop(); q.awaitTermination()

    def streamed(): Map[Long, (Double, Long, String, Long)] =
      graft.streaming.QualityStream.decisions(spark, out).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("p"), r.getAs[Long]("keep"),
            r.getAs[String]("source"), r.getAs[Long]("ingest_batch")))).toMap
    val got = streamed()
    assert(got.size == 40, s"every doc gets exactly one decision: ${got.size}")

    // (a) streamed scores == the batch scorer on the same rows, AND ==
    // quality_score's p/pred for the rows that query covers — the three
    // surfaces share one trained artifact, one feature pipeline
    val batchScored = graft.text.TextOps.qualityScoreDocs(spark, Sf,
        corpus.toSeq.toDF("doc_id", "text", "source")
          .select(col("doc_id"), col("text")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("p"), r.getAs[Long]("keep")))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == batchScored,
      "streamed decisions must equal the batch scorer row for row")
    val qs = graft.text.TextOps.qualityScore(spark, Sf)
      .where(col("doc_id") < 40).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("p"), r.getAs[Long]("pred")))).toMap
    qs.foreach { case (id, (p, pred)) =>
      assert(got(id)._1 == p && got(id)._2 == pred,
        s"doc $id: streamed (${got(id)._1}, ${got(id)._2}) vs quality_score ($p, $pred)")
    }

    // (b) crash replay: forge the uncommitted state (drop the newest
    // commit marker), restart on the same checkpoint — the replayed batch
    // must rewrite exactly its own partition with identical rows
    val commits = new java.io.File(s"$ckpt/commits")
    val newest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    assert(newest.delete())
    // the local checksum FS keeps a .N.crc sibling; a stale one would fail
    // the replayed commit's atomic rename (crash-sim plumbing — a real
    // crash never writes the commit at all)
    new java.io.File(newest.getParentFile, s".${newest.getName}.crc").delete()
    val q2 = graft.streaming.QualityStream.start(docs, Sf, out, ckpt)
    q2.processAllAvailable()
    q2.stop(); q2.awaitTermination()
    assert(streamed() == got,
      "crash replay must land bit-identically — same rows, same partitions")

    // the running mix-shift: per-source counts cover everything gated
    val mix = graft.streaming.QualityStream.mixShift(spark, out).collect()
    assert(mix.map(_.getAs[Long]("n_docs")).sum == 40)
    assert(mix.map(_.getAs[String]("source")).distinct.length == mix.length)
  }

  test("time travel + CDC over the facade: /snapshots lists history, /changes streams the API's own diff, misuse is a loud 400 (r14)") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))
    w(("2024-01-09T10:00:00Z", 1.0, "a"), ("2024-01-09T11:00:00Z", 2.0, "b"))
    w(("2024-01-19T10:00:00Z", 3.0, "c"), // added
      ("2024-01-09T11:00:00Z", 9.0, "b")) // overwritten (LWW)
    val srv = new graft.http.GraftHttpServer(g, spark)
    val port = srv.start()
    try {
      val (c1, b1) = post(port, "/snapshots", "")
      assert(c1 == 200, b1)
      val snaps = mapper.readTree(b1).get("snapshots")
      assert((0 until snaps.size()).map(snaps.get(_).asLong()) ==
        g.snapshots(), s"route must list the store's own history: $b1")
      val (from, to) = (snaps.get(0).asLong(), snaps.get(snaps.size() - 1).asLong())

      val (c2, b2) = post(port, "/changes", s"""{"from":$from,"to":$to}""")
      assert(c2 == 200, b2)
      val rows = mapper.readTree(b2).get("series")
      val got = (0 until rows.size()).map { i =>
        val r = rows.get(i)
        (r.get("name").asText(), r.get("time_ms").asLong(),
          Option(r.get("old_value")).filterNot(_.isNull).map(_.asDouble()),
          Option(r.get("new_value")).filterNot(_.isNull).map(_.asDouble()),
          r.get("change").asText())
      }.toSet
      val api = g.changes(from, to).collect().map(r =>
        (r.getAs[String]("name"), r.getAs[Long]("time_ms"),
          Option(r.getAs[java.lang.Double]("old_value")).map(_.toDouble),
          Option(r.getAs[java.lang.Double]("new_value")).map(_.toDouble),
          r.getAs[String]("change"))).toSet
      assert(got == api, s"route must stream the API's own change feed: $got")
      assert(got.map(_._5) == Set("added", "changed"))

      // misuse is loud, not a 500: missing body, reversed range, unknown
      // snapshot
      assert(post(port, "/changes", """{}""")._1 == 400)
      assert(post(port, "/changes", s"""{"from":$to,"to":$from}""")._1 == 400)
      assert(post(port, "/changes", s"""{"from":999999,"to":$to}""")._1 == 400)

      // /vacuum: the explicit physical-reclaim trigger. compact() retires
      // the pre-compaction files; vacuum to the newest snapshot reclaims
      // them and the count comes back — after which history IS gone
      assert(g.compact().nonEmpty)
      val (cv, bv) = post(port, "/vacuum", """{"keep_snapshots": 1}""")
      assert(cv == 200, bv)
      assert(mapper.readTree(bv).get("reclaimed_files").asInt() > 0,
        s"vacuum over the facade must reclaim the retired files: $bv")
      assert(post(port, "/vacuum", """{"keep_snapshots": 0}""")._1 == 400)
    } finally srv.stop()

    // a never-written space has no history to travel or reclaim: /changes
    // is a 400 (no such snapshot), /vacuum a 200 no-op
    val srv2 = new graft.http.GraftHttpServer(g, spark)
    val port2 = srv2.start()
    try {
      assert(post(port2, "/changes/nowhere", """{"from":1,"to":2}""")._1 == 400)
      val (cv, bv) = post(port2, "/vacuum/nowhere", """{}""")
      assert(cv == 200, bv)
      assert(mapper.readTree(bv).get("reclaimed_files").asInt() == 0, bv)
    } finally srv2.stop()
  }

  test("served search index: /search answers from the CDC-maintained index when configured — stale until the sweep, rank-identical after it, rebuilt if vacuumed past (r14)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-sidx")
    val root = s"$dir/store"
    val idxBase = s"$root/.search-index"
    val cfgPath = Paths.get(s"$dir/cfg.json")
    Files.write(cfgPath,
      """{"port": 0, "search_index": true}""".getBytes("UTF-8"))
    val (g, srv, cfg) = graft.http.ServerMain.boot(spark, cfgPath.toString, root)
    assert(cfg.searchIndex)
    val port = srv.start()
    try {
      def w(rows: (String, Double, String)*) =
        g.write(rows.toSeq.toDF("time", "value", "name"))
      def hits(q: String): Seq[(String, Double)] = {
        val (c, b) = post(port, "/search", s"""{"q": "$q", "k": 10}""")
        assert(c == 200, b)
        val rows = mapper.readTree(b).get("series")
        (0 until rows.size()).map(i => (rows.get(i).get("name").asText(),
          rows.get(i).get("score").asDouble()))
      }
      w(("2024-01-09T10:00:00Z", 1.0, "alpha"),
        ("2024-01-09T11:00:00Z", 2.0, "beta"))
      // before the first sweep there IS no index: /search falls back to
      // the direct scan (never a cold-start outage), and the server log
      // names the cause once for the request
      val errBuf = new java.io.ByteArrayOutputStream()
      val savedErr = System.err
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      try assert(hits("alpha").map(_._1) == Seq("alpha"))
      finally System.setErr(savedErr)
      val logged = errBuf.toString("UTF-8").linesIterator
        .filter(_.contains("/search default: index probe failed")).toSeq
      assert(logged.size == 1 && logged.head.contains("no committed index"),
        s"the fallback must log its cause once: $logged")

      // sweep builds the index; /search now serves FROM it —
      // rank- and score-identical to the store scan
      graft.http.ServerMain.searchIndexSweep(g, idxBase)
      val viaIndex = hits("alpha")
      val direct = g.search(Seq("alpha"), k = 10).collect()
        .map(r => (r.getAs[String]("name"), r.getAs[Double]("score"))).toSeq
      assert(viaIndex == direct,
        s"index-served /search diverges: $viaIndex vs $direct")

      // the freshness model is the sweep cadence: a new series is
      // INVISIBLE to the index-served route until the next sweep (this
      // also proves the route really reads the index, not the store)
      w(("2024-01-09T12:00:00Z", 3.0, "gamma"))
      g.flushQueued()
      assert(hits("gamma").isEmpty,
        "a not-yet-synced series must not surface from the index")
      assert(g.search(Seq("gamma"), k = 10).count() == 1)
      graft.http.ServerMain.searchIndexSweep(g, idxBase)
      assert(hits("gamma").map(_._1) == Seq("gamma"))

      // an operator vacuuming past the index's base snapshot does not
      // wedge the sweep: sync falls back to a rebuild
      w(("2024-01-09T13:00:00Z", 4.0, "delta"))
      w(("2024-01-09T14:00:00Z", 5.0, "delta"))
      g.flushQueued()
      g.vacuum(keepSnapshots = 1, orphanGraceMs = 0)
      graft.http.ServerMain.searchIndexSweep(g, idxBase)
      assert(hits("delta").map(_._1) == Seq("delta"))
      assert(hits("alpha").map(_._1) == Seq("alpha"))
    } finally srv.stop()
  }
}
