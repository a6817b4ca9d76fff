package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.streaming.{CdcIndexSync, CdcStream}
import graft.tsdb.{DocId, Graft}

/** An object-store-shaped filesystem for the commit-claim specs: local
  * storage, but `rename` silently OVERWRITES an existing destination
  * (S3's copy+delete has no "refuse if exists"), and `exists` can be told
  * to LIE once about a named file — the TOCTOU window between a claim's
  * exists check and its rename, made deterministic. `create(overwrite =
  * false)` keeps RawLocal's throw-if-exists behavior, standing in for a
  * conditional PUT.
  */
class MockS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("mocks3:///")
  override def checkPath(path: HPath): Unit = ()
  override def exists(f: HPath): Boolean = {
    val l = MockS3Fs.lieAbout.get()
    // value comparison, then CAS to consume exactly once (AtomicReference
    // CAS alone compares references — f.getName is a fresh String)
    if (l != null && l == f.getName && MockS3Fs.lieAbout.compareAndSet(l, null))
      false
    else super.exists(f)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    if (super.exists(dst)) delete(dst, true) // S3 semantics: last PUT wins
    super.rename(src, dst)
  }
}
object MockS3Fs {
  /** File NAME `exists` should report absent, once. */
  val lieAbout = new java.util.concurrent.atomic.AtomicReference[String](null)
}

/** Round-15 directives: the CDC-index lifecycle fold, the object-store-
  * safe commit claim, the store-identity root fix for wiped-and-recreated
  * spaces, the generalized CDC consumer, and the injective doc identity.
  */
class Round15Spec extends SparkTestBase {
  import spark.implicits._

  private val MatchAll = """{"match_all":{}}"""

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Direct-scan top-k keyed by the shared injective doc id. */
  private def direct(g: Graft, terms: Seq[String], k: Int = 20): Seq[(String, Double)] =
    g.search(terms, k = k).collect().toSeq.map { r =>
      val tags = r.schema.fieldNames.filterNot(_ == "score")
        .map(c => Option(r.getAs[Any](c)).map(_.toString)).toSeq
      (DocId.encodeRaw(tags), r.getAs[Double]("score"))
    }

  private def indexed(dir: String, terms: Seq[String], k: Int = 20): Seq[(String, Double)] =
    CdcIndexSync.search(spark, dir, terms, k).collect().toSeq
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("score")))

  private def assertParity(g: Graft, dir: String, queries: Seq[Seq[String]]): Unit =
    queries.foreach { q =>
      val (d, i) = (direct(g, q), indexed(dir, q))
      assert(d == i, s"index diverges from direct scan for $q: direct=$d indexed=$i")
    }

  // --------------------------------------------------------------------
  // Directive #2: the object-store-safe commit claim
  // --------------------------------------------------------------------

  test("commit claim: auto REFUSES an object-store scheme loudly; create-exclusive survives the race unsafe-rename silently loses (r15 #2)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockS3Fs].getName)
    def df(ts: String, v: Double) =
      Seq((ts, v, "s")).toDF("time", "value", "name")

    // (a) auto on an unknown scheme: the loud capability check, naming
    // the config key — never a silent race
    val g0 = new Graft(spark, s"mocks3:${freshRoot("graft-mocks3a")}")
    val ex = intercept[IllegalStateException] {
      g0.write(df("2024-01-09T10:00:00Z", 1.0))
    }
    assert(ex.getMessage.contains("commit_primitive"),
      s"the refusal must name the config key: ${ex.getMessage}")
    assert(ex.getMessage.contains("mocks3"))

    // (b) the hazard is real: with unsafe-rename, exists+rename BOTH
    // succeed in the TOCTOU window (exists lies once = the stale listing
    // an object store can serve) and the loser CLOBBERS the winner —
    // the documented single-writer trade, proven to actually lose data
    val rootB = s"mocks3:${freshRoot("graft-mocks3b")}"
    val a = new Graft(spark, rootB,
      commitPrimitive = Graft.PrimUnsafeRename)
    val b = new Graft(spark, rootB,
      commitPrimitive = Graft.PrimUnsafeRename)
    a.write(df("2024-01-09T10:00:00Z", 1.0))
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    a.commitRaceHook = () =>
      if (fired.compareAndSet(false, true)) {
        b.write(df("2024-01-10T10:00:00Z", 2.0)) // B lands m2 first
        MockS3Fs.lieAbout.set("m2") // A's exists check sees the stale view
      }
    try a.write(df("2024-01-11T10:00:00Z", 3.0))
    finally a.commitRaceHook = () => ()
    assert(fired.get)
    val vals = a.read(MatchAll).collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    assert(vals == Seq(1.0, 3.0),
      s"unsafe-rename under the TOCTOU must lose B's commit (got $vals) — " +
        "this documented hazard is WHY auto refuses such stores")

    // (c) create-exclusive: the same deterministic race resolves cleanly —
    // the loser's create throws, it re-applies, BOTH mutations land
    val rootC = s"mocks3:${freshRoot("graft-mocks3c")}"
    val c1 = new Graft(spark, rootC,
      commitPrimitive = Graft.PrimCreateExclusive)
    val c2 = new Graft(spark, rootC,
      commitPrimitive = Graft.PrimCreateExclusive)
    c1.write(df("2024-01-09T10:00:00Z", 1.0))
    val fired2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    c1.commitRaceHook = () =>
      if (fired2.compareAndSet(false, true))
        c2.write(df("2024-01-10T10:00:00Z", 2.0))
    try c1.write(df("2024-01-11T10:00:00Z", 3.0))
    finally c1.commitRaceHook = () => ()
    assert(fired2.get)
    val vals2 = c1.read(MatchAll).collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    assert(vals2 == Seq(1.0, 2.0, 3.0),
      s"create-exclusive must keep both racing commits: $vals2")
    assert(c1.snapshots().size == 3)

    // (d) an unknown primitive name is a loud config error
    val g4 = new Graft(spark, freshRoot("graft-prim"),
      commitPrimitive = "bogus")
    intercept[IllegalArgumentException] {
      g4.write(df("2024-01-09T10:00:00Z", 1.0))
    }
  }

  // --------------------------------------------------------------------
  // Directive #1: the CDC-index fold
  // --------------------------------------------------------------------

  test("CDC index fold: rank/score-identical across the fold, ledger collapses to one partition, dead postings physically dropped, crash-mid-fold invisible (r15 #1)") {
    val root = freshRoot("graft-fold")
    val dir = s"$root/index"
    val g = new Graft(spark, s"$root/store")
    def w(rows: (String, Double, String, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name", "host"))

    w(("2024-01-09T10:00:00Z", 1.0, "cpu", "web-01"),
      ("2024-01-09T11:00:00Z", 2.0, "mem", "db-01"),
      ("2024-01-09T12:00:00Z", 3.0, "tmpseries", "old-01")) // dies below
    CdcIndexSync.build(g, dir)
    w(("2024-01-19T10:00:00Z", 4.0, "gpu", "ml-01"),
      ("2024-01-19T11:00:00Z", 5.0, "cpu", "web-01"),
      ("2024-01-19T12:00:00Z", 6.0, "mem", "db-01"))
    CdcIndexSync.sync(g, dir)
    w(("2024-01-29T10:00:00Z", 7.0, "net", "edge-01"))
    CdcIndexSync.sync(g, dir)
    // retention drops the 01-09 bucket: tmpseries loses its only point
    g.remove(keepDays = 15, todayDay = 1706486400000L / graft.core.Det.MsInDay)
    CdcIndexSync.sync(g, dir)
    assert(CdcIndexSync.ledgerBatches(spark, dir) >= 3,
      "the test needs real accretion to fold")

    val queries = Seq(Seq("cpu"), Seq("web-01", "mem"), Seq("gpu"),
      Seq("edge-01"), Seq("old-01"))
    val before = queries.map(q => indexed(dir, q))
    assert(before.last.isEmpty, "the dead series must not match pre-fold")

    // crash-mid-fold: an unreferenced staged generation dir (no fold
    // marker names it) is INVISIBLE, and reclaimed once the generation
    // passes it
    new java.io.File(s"$root/index/g1-deadstage/counts").mkdirs()
    Files.write(Paths.get(s"$root/index/g1-deadstage/counts/garbage"),
      "not parquet".getBytes("UTF-8"))
    assert(queries.map(q => indexed(dir, q)) == before,
      "a half-written fold must be invisible to search")

    val gen = CdcIndexSync.compactIndex(spark, dir)
    assert(gen == 1L)
    assert(CdcIndexSync.ledgerBatches(spark, dir) == 1,
      "the fold must collapse the ledger history to one base partition")
    assert(queries.map(q => indexed(dir, q)) == before,
      "search must be rank- and score-identical across the fold")
    assertParity(g, dir, queries)

    // dead series' postings: physically present in the old generation
    // (the grace copy), physically ABSENT from the folded one (whose
    // staged dir the fold marker's body names — review r15)
    val gdir1 = CdcIndexSync.state(spark, dir).get.genDir
    assert(gdir1.startsWith("g1-"), s"staged generation dir: $gdir1")
    val deadId = DocId.encodeRaw(Seq(Some("old-01"), Some("tmpseries")))
    assert(spark.read.parquet(s"$dir/postings")
      .where(col("doc_id") === deadId).count() > 0,
      "pre-fold postings held the dead doc (the thing the fold drops)")
    assert(spark.read.parquet(s"$dir/$gdir1/postings")
      .where(col("doc_id") === deadId).count() == 0,
      "the folded generation must not carry dead series' postings")

    // resurrection AFTER the fold: the dropped doc re-indexes as new
    w(("2024-01-29T11:00:00Z", 8.0, "tmpseries", "old-01"))
    CdcIndexSync.sync(g, dir)
    assert(indexed(dir, Seq("old-01")).map(_._1) == Seq(deadId))
    assertParity(g, dir, queries)

    // a second fold reclaims the generation-0 grace copy AND the crashed
    // staging dir (now below the generation frontier)
    assert(CdcIndexSync.compactIndex(spark, dir) == 2L)
    assert(!new java.io.File(s"$dir/postings").exists() &&
      !new java.io.File(s"$dir/termdict").exists(),
      "generation 0 (all families) must be reclaimed once out of the grace window")
    assert(!new java.io.File(s"$dir/g1-deadstage").exists(),
      "a crashed fold's staging must be reclaimed once the generation passes it")
    assertParity(g, dir, queries)
    // marker pruning (review r15): the hot-path _sync listing stays
    // bounded — only the committed snap marker and the grace-window fold
    // markers survive
    val markers = new java.io.File(s"$dir/_sync").list().toSeq
    assert(markers.count(_.startsWith("snap_")) == 1,
      s"below-committed snap markers must be pruned: $markers")
    assert(markers.filter(_.startsWith("fold_")).toSet == Set("fold_1", "fold_2"),
      s"fold markers outside the grace window must be pruned: $markers")

    // nothing to fold -> no-op at the same generation
    assert(CdcIndexSync.compactIndex(spark, dir) == 2L)
  }

  test("sync racing the fold: BOTH interleavings land every committed batch in the active generation (review r15)") {
    val root = freshRoot("graft-foldrace")
    val dir = s"$root/index"
    val g = new Graft(spark, s"$root/store")
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))
    w(("2024-01-09T10:00:00Z", 1.0, "alpha"),
      ("2024-01-09T11:00:00Z", 2.0, "beta"))
    CdcIndexSync.build(g, dir)
    w(("2024-01-09T12:00:00Z", 3.0, "gamma"))
    CdcIndexSync.sync(g, dir) // 2 accreted batches -> foldable

    // interleaving 1: a sync starts INSIDE the fold's commit window
    // (families staged, marker not yet). The fold holds the index's
    // lease, so the sync waits, then lands in the folded generation —
    // it never commits under the fold, whose families miss its batch
    val before = CdcIndexSync.committedSnap(spark, dir)
    var sync1: Competitor = null
    CdcIndexSync.foldCommitHook = () => {
      CdcIndexSync.foldCommitHook = () => () // once
      w(("2024-01-09T13:00:00Z", 4.0, "delta-svc"))
      sync1 = Competitor(CdcIndexSync.sync(g, dir))
      Thread.sleep(300)
      assert(CdcIndexSync.committedSnap(spark, dir) == before && sync1.running,
        "the sync must wait while the fold holds the lease")
    }
    try assert(CdcIndexSync.compactIndex(spark, dir) == 1L)
    finally CdcIndexSync.foldCommitHook = () => ()
    sync1.join()
    assert(CdcIndexSync.state(spark, dir).get.gen == 1L)
    assert(indexed(dir, Seq("delta-svc")).nonEmpty,
      "a batch committed during the fold must be searchable in the folded generation")
    assertParity(g, dir, Seq(Seq("alpha"), Seq("gamma"), Seq("delta-svc")))

    // interleaving 2: a fold starts INSIDE sync's commit window (batch
    // landed, marker not yet) — it waits for the sync's commit, then
    // folds the batch in
    w(("2024-01-09T14:00:00Z", 5.0, "epsilon"))
    val landed = CdcIndexSync.committedSnap(spark, dir)
    var fold2: Competitor = null
    CdcIndexSync.syncCommitHook = () => {
      CdcIndexSync.syncCommitHook = () => () // once
      fold2 = Competitor(CdcIndexSync.compactIndex(spark, dir))
      Thread.sleep(300)
      assert(CdcIndexSync.state(spark, dir).get.gen == 1L &&
        CdcIndexSync.committedSnap(spark, dir) == landed && fold2.running,
        "the fold must wait while the sync holds the lease")
    }
    try CdcIndexSync.sync(g, dir)
    finally CdcIndexSync.syncCommitHook = () => ()
    fold2.join()
    assert(CdcIndexSync.state(spark, dir).get.gen == 2L)
    assert(indexed(dir, Seq("epsilon")).nonEmpty,
      "a batch landing while a fold waits must be folded into the new generation")
    assertParity(g, dir, Seq(Seq("alpha"), Seq("beta"), Seq("gamma"),
      Seq("delta-svc"), Seq("epsilon")))
  }

  // --------------------------------------------------------------------
  // ADVICE r14 (medium): zero-live-point stores must not wedge the index
  // --------------------------------------------------------------------

  test("CDC index: a store whose points were ALL retention-dropped builds an empty committed index, and recovers when points return (ADVICE r14)") {
    val root = freshRoot("graft-empty")
    val dir = s"$root/index"
    val g = new Graft(spark, s"$root/store")
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "cpu"))
      .toDF("time", "value", "name"))
    g.remove(keepDays = 2, todayDay = 1705658400000L / graft.core.Det.MsInDay)
    assert(g.read(MatchAll).count() == 0, "test needs an emptied store")

    val b0 = CdcIndexSync.build(g, dir)
    assert(CdcIndexSync.committedSnap(spark, dir).contains(b0))
    assert(indexed(dir, Seq("cpu")).isEmpty)

    // the wedge class: points return, sync must ADVANCE (not die on
    // schema inference over the zero-row families)
    g.write(Seq(("2024-01-19T10:00:00Z", 2.0, "cpu"),
      ("2024-01-19T11:00:00Z", 3.0, "mem"))
      .toDF("time", "value", "name"))
    val s1 = CdcIndexSync.sync(g, dir)
    assert(s1 == g.snapshots().max)
    assertParity(g, dir, Seq(Seq("cpu"), Seq("mem")))
  }

  // --------------------------------------------------------------------
  // ADVICE r14: injective doc identity (null ≠ "", separator-proof)
  // --------------------------------------------------------------------

  test("doc identity is injective: null-tag vs empty-string-tag series are TWO docs on every surface, separator bytes cannot collide ids (ADVICE r14)") {
    val root = freshRoot("graft-docid")
    val dir = s"$root/index"
    val g = new Graft(spark, s"$root/store")
    val rows = Seq(
      ("2024-01-09T10:00:00Z", 1.0, "cpu", Option.empty[String]),
      ("2024-01-09T11:00:00Z", 2.0, "cpu", Some("")),
      // the collision pair: under a naive  join both ids would be
      // "abx" — injective encoding must keep them distinct
      ("2024-01-09T12:00:00Z", 3.0, "x", Some("ab")),
      ("2024-01-09T13:00:00Z", 4.0, "bx", Some("a")))
    g.write(rows.toDF("time", "value", "name", "host"))
    CdcIndexSync.build(g, dir)

    // n_docs must be 4 on both surfaces (null-host cpu and empty-host cpu
    // are distinct series; the separator pair stays two docs)
    assert(g.search(Seq("cpu"), k = 10).count() == 2,
      "direct scan: the null-host and empty-host cpu series are two docs")
    assert(indexed(dir, Seq("cpu")).size == 2,
      "index: the null-host and empty-host cpu series are two docs")
    assertParity(g, dir, Seq(Seq("cpu"), Seq("b"), Seq("x"), Seq("a")))

    // and the ids themselves are distinct + split back losslessly
    val ids = indexed(dir, Seq("cpu")).map(_._1)
    assert(ids.distinct.size == 2, s"ids must be distinct: $ids")
    assert(ids.contains(DocId.encodeRaw(Seq(None, Some("cpu")))))
    assert(ids.contains(DocId.encodeRaw(Seq(Some(""), Some("cpu")))))

    // facade decode: the index-served /search round-trips null vs ""
    val srv = new graft.http.GraftHttpServer(g, spark,
      searchIndexDir = Some(s"$root/idxbase"))
    val idxDir = s"$root/idxbase/default"
    CdcIndexSync.build(g, idxDir)
    val port = srv.start()
    try {
      val (code, body) = post(port, "/search", """{"q": "cpu", "k": 10}""")
      assert(code == 200, body)
      val hits = mapper.readTree(body).get("series")
      assert(hits.size() == 2, body)
      val hosts = (0 until hits.size()).map { i =>
        val h = hits.get(i).get("host")
        if (h == null || h.isNull) None else Some(h.asText())
      }.toSet
      assert(hosts == Set(None, Some("")),
        s"the null host and the empty-string host must round-trip: $hosts")
    } finally srv.stop()
  }

  // --------------------------------------------------------------------
  // Directive #3 (root fix): wiped-and-recreated stores
  // --------------------------------------------------------------------

  test("wiped-and-recreated space: the index rebuilds IMMEDIATELY (store identity, even at a colliding snapshot seq) and /search serves the new tag names with no stale cadence (r15 #3)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-wipe")
    val root = s"$dir/store"
    val idxBase = s"$root/.search-index"
    val cfgPath = Paths.get(s"$dir/cfg.json")
    Files.write(cfgPath,
      """{"port": 0, "search_index": true}""".getBytes("UTF-8"))
    val (g, srv, _) = graft.http.ServerMain.boot(spark, cfgPath.toString, root)
    val port = srv.start()
    try {
      g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "alpha"))
        .toDF("time", "value", "name"))
      g.write(Seq(("2024-01-09T11:00:00Z", 2.0, "beta"))
        .toDF("time", "value", "name"))
      graft.http.ServerMain.searchIndexSweep(g, idxBase)
      // warm the facade cache with the OLD tag columns at seq 2
      val (c0, b0) = post(port, "/search", """{"q": "alpha"}""")
      assert(c0 == 200 && mapper.readTree(b0).get("series").get(0)
        .get("name").asText() == "alpha", b0)
      val oldSeq = g.snapshots().max

      // wipe the space (store + manifest history) and recreate it with a
      // DIFFERENT tag column, landing the SAME snapshot seq count
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/default"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/.manifest/default"))
      g.write(Seq(("2024-02-09T10:00:00Z", 1.0, "gamma-svc"))
        .toDF("time", "value", "label"))
      g.write(Seq(("2024-02-09T11:00:00Z", 2.0, "delta-svc"))
        .toDF("time", "value", "label"))
      assert(g.snapshots().max == oldSeq,
        "test harness: the recreated history must collide on the seq")

      // ONE sweep: the identity mismatch forces the rebuild even though
      // from == to, and the marker nonce refreshes the facade cache —
      // the very next /search answers with the NEW schema
      graft.http.ServerMain.searchIndexSweep(g, idxBase)
      val (c1, b1) = post(port, "/search", """{"q": "gamma-svc"}""")
      assert(c1 == 200, b1)
      val row = mapper.readTree(b1).get("series").get(0)
      assert(row != null, s"no hits for the recreated space's series: $b1")
      assert(row.has("label") && !row.has("name"),
        s"stale tag names served after the sweep: $b1")
      assert(row.get("label").asText() == "gamma-svc", b1)
    } finally srv.stop()
  }

  // --------------------------------------------------------------------
  // Directive #5: the generalized CDC consumer
  // --------------------------------------------------------------------

  test("CdcStream: a user incremental aggregate maintained through append/retention/compaction/crash/wipe equals its from-scratch recompute (r15 #5)") {
    val root = freshRoot("graft-cdcstream")
    val storeRoot = s"$root/store"
    var g = new Graft(spark, storeRoot)
    val stateDir = s"$root/consumer"
    val deltasDir = s"$stateDir/deltas"
    val schema = new StructType().add("name", StringType)
      .add("delta", LongType).add("ingest_batch", LongType)
    val resets = new java.util.concurrent.atomic.AtomicInteger(0)
    val diffs = new java.util.concurrent.atomic.AtomicInteger(0)

    def onReset(full: DataFrame, snap: Long): Unit = {
      resets.incrementAndGet()
      val fs = new HPath(deltasDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new HPath(deltasDir), true)
      CdcStream.land(full.groupBy(col("name"))
        .agg(count(lit(1)).cast("long").as("delta")), deltasDir, snap)
    }
    def applyDiff(diff: DataFrame, snap: Long): Unit = {
      diffs.incrementAndGet()
      CdcStream.land(
        diff.where(col("change") =!= "changed")
          .groupBy(col("name"))
          .agg(sum(when(col("change") === "added", 1L).otherwise(-1L))
            .as("delta"))
          .where(col("delta") =!= 0L),
        deltasDir, snap)
    }
    def advance(): Long =
      CdcStream.foreachDiff(g, "default", stateDir)(onReset)(applyDiff)
    def state(): Map[String, Long] = {
      val upTo = CdcStream.committed(spark, stateDir).map(_.snap)
        .getOrElse(-1L)
      CdcStream.readState(spark, deltasDir, schema)
        .where(col("ingest_batch") <= upTo)
        .groupBy("name").agg(sum("delta").as("n")).where(col("n") > 0)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def recompute(): Map[String, Long] =
      g.read(MatchAll).groupBy("name").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))

    // bootstrap: first advance is the reset path (never-advanced)
    w(("2024-01-09T10:00:00Z", 1.0, "cpu"),
      ("2024-01-09T11:00:00Z", 2.0, "cpu"),
      ("2024-01-09T12:00:00Z", 3.0, "mem"))
    advance()
    assert(resets.get == 1 && state() == recompute())

    // append -> one diff
    w(("2024-01-19T10:00:00Z", 4.0, "cpu"),
      ("2024-01-19T11:00:00Z", 5.0, "disk"))
    advance()
    assert(diffs.get == 1 && state() == recompute())

    // retention -> removals flow through the same diff path
    g.remove(keepDays = 15,
      todayDay = 1706486400000L / graft.core.Det.MsInDay)
    advance()
    assert(state() == recompute() && !state().contains("mem"))

    // compaction -> an EMPTY diff, state unchanged
    assert(g.compact().nonEmpty)
    val stBefore = state()
    advance()
    assert(state() == stBefore && state() == recompute())

    // already current -> neither callback runs
    val (r0, d0) = (resets.get, diffs.get)
    advance()
    assert(resets.get == r0 && diffs.get == d0)

    // crash AFTER landing, BEFORE the marker: the orphan partition is
    // invisible to the state read, and the replay rewrites it in place
    w(("2024-01-19T12:00:00Z", 6.0, "disk"))
    val preCrash = state()
    intercept[RuntimeException] {
      CdcStream.foreachDiff(g, "default", stateDir)(onReset) { (d, s) =>
        applyDiff(d, s); throw new RuntimeException("crash before marker")
      }
    }
    assert(state() == preCrash,
      "an unmarked batch must be invisible to the consumer state")
    advance() // the replay
    assert(state() == recompute() && state()("disk") == 2)

    // wipe + recreate the store: the identity mismatch forces a reset
    // even though the new history's seq may coincide with the marker's
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$storeRoot/default"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$storeRoot/.manifest/default"))
    g = new Graft(spark, storeRoot)
    w(("2024-03-09T10:00:00Z", 1.0, "fresh"))
    val rBefore = resets.get
    advance()
    assert(resets.get == rBefore + 1,
      "a wiped-and-recreated store must reset the consumer")
    assert(state() == recompute() && state() == Map("fresh" -> 1L))

    // the reset must also RETIRE the dead history's markers: the new
    // history restarted at seq 1 while the old marker sat at a higher
    // seq — committed() takes the max, so without the cleanup every
    // subsequent advance would read the stale marker and reset forever
    assert(CdcStream.committed(spark, stateDir).get.snap == 1L,
      "a reset must leave the NEW history's marker as the committed one")
    val (r1, d1) = (resets.get, diffs.get)
    advance() // current -> fast path, no callbacks
    assert(resets.get == r1 && diffs.get == d1,
      "an up-to-date consumer must not re-reset after a rebind")
    w(("2024-03-09T11:00:00Z", 2.0, "fresh"))
    advance() // and the next append flows through the DIFF path
    assert(resets.get == r1 && diffs.get == d1 + 1 &&
      state() == recompute() && state()("fresh") == 2L)
  }

  // --------------------------------------------------------------------
  // Directive #6 + config surface
  // --------------------------------------------------------------------

  test("config: compaction_target_mb / index_fold_batches / commit_primitive parse; vacuum keep defaults DEEP; the sweep splits to the configured target (r15 #6, ADVICE r14)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-cfg15")
    val cfgPath = Paths.get(s"$dir/cfg.json")
    Files.write(cfgPath,
      """{"port": 0, "compaction_target_mb": 4, "index_fold_batches": 3,
         "commit_primitive": "unsafe-rename"}""".getBytes("UTF-8"))
    val cfg = Graft.loadConfig(spark, cfgPath.toString)
    assert(cfg.compactionTargetMb == 4)
    assert(cfg.commitPrimitive == Graft.PrimUnsafeRename)
    // defaults: deep vacuum keep (ADVICE r14 — external /changes
    // consumers keep their diff base across realistic polling gaps)
    val defPath = Paths.get(s"$dir/def.json")
    Files.write(defPath, """{"port": 0}""".getBytes("UTF-8"))
    val dcfg = Graft.loadConfig(spark, defPath.toString)
    assert(dcfg.vacuumKeepSnapshots == Graft.DefaultVacuumKeep &&
      Graft.DefaultVacuumKeep >= 24)
    assert(dcfg.compactionTargetMb == 128 && dcfg.commitPrimitive == "auto")

    // the target is wired through to the rewrite: a fragmented bucket
    // compacted under a tiny byte target splits into multiple files
    val root = s"$dir/store"
    val g = new Graft(spark, root)
    (0 until 4).foreach { i =>
      g.write(Seq.tabulate(500)(j =>
        (s"2024-01-09T10:${(i * 500 + j) % 60}:${j % 60}Z",
          (i * 500 + j).toDouble, s"s${j % 7}"))
        .toDF("time", "value", "name"))
    }
    val done = g.compactionSweep(maxFilesPerBucket = 2, targetBytes = 4096L)
    assert(done.nonEmpty, "the fragmented bucket must trigger the sweep")
    val (_, before, after) = done("default").head
    assert(after > 1 && after < before,
      s"a 4 KiB target over a multi-KiB bucket must split: $before -> $after")
  }

  // --------------------------------------------------------------------
  // Directive #8: prefix pruning on the CDC index (termdict sidecar)
  // --------------------------------------------------------------------

  test("prefix search: trailing-* expands under the ONE shared rule (live vocabulary, capped 50), rank/score-identical direct vs index, dead dictionary terms never shift the cap (r15 #8)") {
    val root = freshRoot("graft-prefix")
    val dir = s"$root/index"
    val g = new Graft(spark, s"$root/store")
    def w(rows: (String, Double, String, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name", "host"))

    // 55 live q-terms (q00..q54: the 50-term cap BINDS) + one series
    // whose term q000 sorts INSIDE the capped range (q00 < q000 < q01)
    // and dies below — an expansion that consulted the dictionary
    // without validating liveness would admit q000 and evict the 50th
    // live term, silently diverging from the direct scan
    w(("2024-01-09T10:00:00Z", 1.0, "q000", "h-dead"))
    w((0 until 55).map(i =>
      (s"2024-01-19T10:${i % 60}:00Z", i.toDouble, f"q$i%02d", "h-live")): _*)
    CdcIndexSync.build(g, dir)
    g.remove(keepDays = 15, todayDay = 1706486400000L / graft.core.Det.MsInDay)
    CdcIndexSync.sync(g, dir) // q000's series is now dead, pre-fold

    val queries = Seq(
      Seq("q*"),                 // cap binds: 50 of 55 live terms
      Seq("q*", "h-live"),       // mixed exact + prefix
      Seq("q1*"),                // narrow: q10..q19
      Seq("h-*"),                // tag-value prefix across hosts
      Seq("q1*", "h-*"),         // TWO prefixes: the one-job window path
      Seq("zz*"),                // expands to nothing: zero matches
      Seq("q000*"))              // dead-only term: zero matches
    assertParity(g, dir, queries)
    // the cap-binding query must still rank the 50th LIVE term's doc —
    // the row an unvalidated dictionary expansion would lose (q000 sits
    // in the dictionary between q00 and q01 until the fold)
    val cap = indexed(dir, Seq("q*"), k = 60)
    assert(cap.size == 50, s"50 capped live terms -> 50 docs: ${cap.size}")
    val q49 = DocId.encodeRaw(Seq(Some("h-live"), Some("q49")))
    assert(cap.map(_._1).contains(q49),
      "the 50th live term must survive the cap (dead q000 must not evict it)")
    assert(indexed(dir, Seq("q000*")).isEmpty &&
      direct(g, Seq("q000*")).isEmpty)

    // bucket pruning: the dictionary names candidate buckets for a
    // narrow prefix — a strict subset of the 64 a dictionary-less probe
    // must scan (the measured buckets-opened drop)
    val st = CdcIndexSync.state(spark, dir).get
    val narrow = CdcIndexSync.prefixCandidateBuckets(
      spark, dir, st, Seq("q1"))
    assert(narrow.nonEmpty && narrow.size <= 10,
      s"10 matching terms can name at most 10 buckets: $narrow")
    assert(CdcIndexSync.prefixCandidateBuckets(
      spark, dir, st, Seq("zz")).isEmpty,
      "a no-match prefix must name ZERO candidate buckets")
    assert(CdcIndexSync.prefixCandidateBuckets(
      spark, dir, st, Seq("q000")).nonEmpty,
      "pre-fold, the dead term still occupies the dictionary (the case " +
        "liveness validation exists for)")

    // the fold drops dead-only terms FROM THE DICTIONARY too: q000's
    // candidate set collapses to empty, so the probe never opens a bucket
    val gen = CdcIndexSync.compactIndex(spark, dir)
    assert(gen >= 1L)
    val stF = CdcIndexSync.state(spark, dir).get
    assert(CdcIndexSync.prefixCandidateBuckets(
      spark, dir, stF, Seq("q000")).isEmpty,
      "the folded dictionary must not carry dead-only terms")
    assertParity(g, dir, queries)

    // pre-dictionary index (format stamp removed): the index is refused,
    // never served from a dictionary that may be incomplete, and the next
    // sweep's sync rebuilds with the dictionary. Deleting the stamp under
    // an UNCHANGED snap marker is out-of-band surgery the lifecycle never
    // performs (build rewrites stamp + commits a fresh marker), so drop
    // the listing-keyed state cache as a process restart would
    new java.io.File(s"$dir/_sync/format").delete()
    CdcIndexSync.dropStateCaches()
    val refused = intercept[IllegalStateException](indexed(dir, Seq("q1*")))
    assert(refused.getMessage.contains("rebuild"), refused.getMessage)
    CdcIndexSync.sync(g, dir) // format upgrade: one rebuild
    assert(CdcIndexSync.prefixCandidateBuckets(
      spark, dir, CdcIndexSync.state(spark, dir).get, Seq("q1")).nonEmpty)
    assertParity(g, dir, queries)

    // the facade serves prefix queries identically on both paths
    val srvDirect = new graft.http.GraftHttpServer(g, spark)
    val srvIdx = new graft.http.GraftHttpServer(g, spark,
      searchIndexDir = Some(root + "/idxbase"))
    // point the index-served facade at this index under its space name
    val fs0 = new HPath(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs0.mkdirs(new HPath(s"$root/idxbase"))
    fs0.rename(new HPath(dir), new HPath(s"$root/idxbase/default"))
    val (pD, pI) = (srvDirect.start(), srvIdx.start())
    try {
      val q = """{"q": "q1* h-live", "k": 60}"""
      val (cD, bD) = post(pD, "/search", q)
      val (cI, bI) = post(pI, "/search", q)
      assert(cD == 200 && cI == 200, s"$bD / $bI")
      assert(mapper.readTree(bD) == mapper.readTree(bI),
        s"facade prefix search diverges: direct=$bD indexed=$bI")
      assert(mapper.readTree(bD).get("series").size() > 0, bD)
    } finally { srvDirect.stop(); srvIdx.stop() }
  }

  test("corpus prefix BM25: trailing-* expands identically on the batch scorer and the streamed index; the termdict prunes only when COMPLETE (r15 #8)") {
    import spark.implicits._
    import graft.text.TextOps
    import graft.streaming.IndexStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("graft-bmprefix")
    val (idx, ckpt) = (s"$root/idx", s"$root/ckpt")
    val corpus = Seq(
      (1L, "spark join fast spark table"),
      (2L, "vector hash join"),
      (3L, "the table scan slow row"),
      (4L, "spark vector spark join spark"),
      (5L, "window batch stream"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IndexStream.start(mem.toDF().toDF("doc_id", "text"), idx, ckpt)
    mem.addData(corpus.take(3): _*)
    q.processAllAvailable()
    mem.addData(corpus.drop(3): _*)
    q.processAllAvailable(); q.stop()

    val corpusDF = corpus.toDF("doc_id", "text")
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Double]("score"))).toSeq
    val queries = Seq(Seq("s*"), Seq("join", "s*"), Seq("vec*", "table"),
      Seq("s*", "vec*", "join"), // multi-prefix: the one-job window path
      Seq("zz*"), Seq("*")) // bare * is a LITERAL token: matches nothing
    def parity(): Unit = queries.foreach { pq =>
      val streamed = key(IndexStream.search(spark, idx, pq).collect())
      val batch = key(TextOps.bm25TopKOnPrefix(corpusDF, pq).collect())
      assert(streamed == batch,
        s"prefix query $pq: streamed=$streamed batch=$batch")
    }
    parity()
    assert(key(IndexStream.search(spark, idx, Seq("s*")).collect()).nonEmpty)

    // a COMPLETE dictionary (every ingest_batch covered) names candidate
    // buckets: s* matches {spark, scan, slow, stream} -> at most 4 of 64
    val bs = IndexStream.dictBuckets(spark, idx, Seq("s"))
    assert(bs.nonEmpty && bs.get.nonEmpty && bs.get.size <= 4,
      s"4 matching terms can name at most 4 buckets: $bs")

    // an INCOMPLETE dictionary (an index whose earlier batches predate
    // the sidecar) must NOT prune — a partial dictionary would silently
    // drop the uncovered batches' terms; the probe falls back to the
    // unpruned expansion and stays correct
    val dictBatch = Option(new java.io.File(s"$idx/termdict").listFiles())
      .toSeq.flatten.find(_.getName.startsWith("ingest_batch=")).get
    org.apache.commons.io.FileUtils.deleteDirectory(dictBatch)
    assert(IndexStream.dictBuckets(spark, idx, Seq("s")).isEmpty,
      "a dictionary missing a batch the index holds must claim nothing")
    parity()
  }
}
