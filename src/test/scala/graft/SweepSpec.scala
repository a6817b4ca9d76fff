package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import graft.http.{GraftHttpServer, ServerMain}
import graft.streaming.{CdcIndexSync, CdcStream}
import graft.tsdb.Graft

/** The serving process's one maintenance pass, [[ServerMain.sweep]]:
  * retention, compaction, the search index and vacuum run in that order,
  * each under its own config key, each step and each space isolated; and
  * the index step's generation GC works on an object store configured
  * with an explicit claim primitive.
  */
class SweepSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  private def fsAt(p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** ISO timestamp `daysAgo` days (plus `secs` seconds) before now. */
  private def ago(daysAgo: Int, secs: Int = 0): String =
    java.time.Instant.now().minus(java.time.Duration.ofDays(daysAgo))
      .truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      .plusSeconds(secs).toString

  /** Boot from a config body; returns the store, its index-served server
    * (not started) and the parsed config. */
  private def bootWith(dir: String, cfgJson: String) = {
    val cfgPath = Paths.get(s"$dir/cfg.json")
    Files.write(cfgPath, cfgJson.getBytes("UTF-8"))
    ServerMain.boot(spark, cfgPath.toString, s"$dir/store")
  }

  /** Every parquet file physically under a space's bucket directories. */
  private def dataFiles(root: String, space: String): Set[String] = {
    val fs = fsAt(root)
    val dir = new HPath(s"$root/$space")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("bucket_day="))
      .flatMap(b => fs.listStatus(b.getPath).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map(n => s"${b.getPath.getName}/$n"))
      .toSet
  }

  /** POST /search: (status, X-Graft-Search-Source, body). */
  private def search(port: Int, q: String): (Int, String, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"q": "$q", "k": 10}""")).build()
    val resp = HttpClient.newHttpClient()
      .send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(),
      resp.headers().firstValue("X-Graft-Search-Source").orElse(""), resp.body())
  }

  test("one sweep runs retention, compaction, the search index and vacuum in dependency order: expired bucket dropped, fragments compacted, index at the newest snapshot and served equal to the scan, one snapshot left with dropped files physically gone") {
    val dir = freshRoot("graft-sweep")
    val (g, srv, cfg) = bootWith(dir,
      """{"port": 0, "search_index": true, "vacuum_keep_snapshots": 1,
        | "spaces": {"default": {"keep_days": 30}}}""".stripMargin)
    val root = s"$dir/store"
    val idxBase = s"$root/.search-index"
    // one bucket far past keep_days, and one recent bucket written in
    // three commits: fragmented and carrying write-sequence stamps
    g.write(Seq((ago(400), 9.0, "cpu", "old-01"))
      .toDF("time", "value", "name", "host"))
    Seq(("cpu", "web-01"), ("mem", "web-02"), ("cpu", "db-01"))
      .zipWithIndex.foreach { case ((n, h), i) =>
        g.write(Seq((ago(1, i), i.toDouble, n, h))
          .toDF("time", "value", "name", "host"))
      }
    val before = g.fragmentation()
    assert(before.size == 2, s"precondition: two buckets, got $before")
    val recentDay = before.map(_._1).max
    assert(before.exists(b => b._1 == recentDay && b._2 == 3 && b._4),
      s"precondition: the recent bucket is fragmented and stamped: $before")
    val filesBefore = dataFiles(root, "default")
    assert(filesBefore.size == 4)

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    ServerMain.sweep(g, cfg, idxBase, (what, e) => errors += s"$what: $e")
    assert(errors.isEmpty, s"no step may fail: $errors")

    // retention then compaction: only the recent bucket, in one
    // unstamped file
    val after = g.fragmentation()
    assert(after.map(_._1) == Seq(recentDay),
      s"the expired bucket must be dropped: $after")
    assert(after.head._2 == 1 && !after.head._4,
      s"the recent bucket must be compacted: $after")
    assert(g.read("""{"match_all":{}}""").count() == 3)

    // vacuum ran last: one snapshot left, and every file the retention
    // and compaction commits dropped is physically gone
    val snaps = g.snapshots()
    assert(snaps.size == 1, s"vacuum_keep_snapshots = 1 keeps one: $snaps")
    val filesAfter = dataFiles(root, "default")
    assert(filesAfter.size == 1 && filesAfter.intersect(filesBefore).isEmpty,
      s"dropped files must be physically gone: $filesBefore -> $filesAfter")

    // the index ran after both commits: it is committed at the newest
    // snapshot, and /search from it equals the store scan
    assert(CdcIndexSync.committedSnap(spark, s"$idxBase/default") ==
      Some(snaps.last))
    val scanSrv = new GraftHttpServer(g, spark)
    val (port, scanPort) = (srv.start(), scanSrv.start())
    try Seq("cpu", "web-02 mem", "db*", "old-01").foreach { q =>
      val (c, src, b) = search(port, q)
      assert(c == 200 && src == "index", s"$q: $c $src $b")
      assert(mapper.readTree(b) == mapper.readTree(search(scanPort, q)._3),
        s"index-served /search diverges from the scan for '$q': $b")
    } finally { srv.stop(); scanSrv.stop() }
  }

  test("sweep isolates each space: a failing index step reaches onError as 'search-index <space>', the other space's index advances, and vacuum still runs for both spaces") {
    val dir = freshRoot("graft-sweep-iso")
    val (g, _, cfg) = bootWith(dir,
      """{"port": 0, "search_index": true, "vacuum_keep_snapshots": 1,
        | "compaction_sweep_minutes": 0}""".stripMargin)
    val root = s"$dir/store"
    val idxBase = s"$root/.search-index"
    def w(space: String, t: String, name: String) =
      g.write(Seq((t, 1.0, name)).toDF("time", "value", "name"), space)

    // space b's index: built, synced once and folded to generation 1,
    // then held by another maintainer whose lease stays fresh — b's index
    // step waits out the lease wait and throws
    w("a", "2024-01-09T10:00:00Z", "alpha")
    w("b", "2024-01-09T10:00:00Z", "bravo")
    val dirB = s"$idxBase/b"
    CdcIndexSync.build(g, dirB, "b")
    w("b", "2024-01-09T11:00:00Z", "charlie")
    CdcIndexSync.sync(g, dirB, "b")
    assert(CdcIndexSync.compactIndex(spark, dirB) == 1L)
    val fs = fsAt(root)
    Graft.writeSmallFile(fs, new HPath(s"$dirB/_lease/lease_1"),
      "other-maintainer")
    w("a", "2024-01-09T11:00:00Z", "delta")
    w("b", "2024-01-09T12:00:00Z", "echo")
    assert(g.snapshots("a").size == 2 && g.snapshots("b").size == 3)

    val errors = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    val savedWait = CdcStream.leaseWaitMs
    CdcStream.leaseWaitMs = 300L
    try ServerMain.sweep(g, cfg, idxBase, (what, e) => errors += (what -> e))
    finally CdcStream.leaseWaitMs = savedWait
    assert(errors.map(_._1) == Seq("search-index b"),
      s"exactly b's index step must fail: ${errors.map(e => s"${e._1}: ${e._2}")}")
    assert(errors.head._2.getMessage.contains("other-maintainer"),
      errors.head._2.getMessage)
    assert(CdcIndexSync.committedSnap(spark, s"$idxBase/a") ==
      Some(g.snapshots("a").last), "a's index step must still run")
    assert(g.snapshots("a").size == 1 && g.snapshots("b").size == 1,
      "vacuum must still run for both spaces")
  }

  test("index GC on an object store: with create-exclusive configured, a sweep over an index a sync advanced after its fold does not throw, and reclaims a generation outside active + grace") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockS3Fs].getName)
    val root = s"mocks3:${freshRoot("graft-sweep-s3")}"
    val g = new Graft(spark, root, commitPrimitive = Graft.PrimCreateExclusive)
    val idxBase = s"$root/.search-index"
    val dir = s"$idxBase/default"
    def w(t: String, name: String) =
      g.write(Seq((t, 1.0, name)).toDF("time", "value", "name"))
    w("2024-01-09T10:00:00Z", "alpha")
    ServerMain.searchIndexSweep(g, idxBase) // builds
    w("2024-01-09T11:00:00Z", "beta")
    ServerMain.searchIndexSweep(g, idxBase) // syncs: two batches, foldable

    // a sync started inside the fold's commit window waits for the
    // fold's lease, then lands its batch in the new generation
    var sync: Competitor = null
    CdcIndexSync.foldCommitHook = () => {
      CdcIndexSync.foldCommitHook = () => () // once
      w("2024-01-09T12:00:00Z", "gamma")
      sync = Competitor(CdcIndexSync.sync(g, dir))
    }
    try assert(CdcIndexSync.compactIndex(spark, dir, g.configuredClaim) == 1L)
    finally CdcIndexSync.foldCommitHook = () => ()
    sync.join()
    val st = CdcIndexSync.state(spark, dir).get
    val fs = fsAt(root)
    assert(st.gen == 1L && st.snap == g.snapshots().max,
      "precondition: the sync landed after the fold")

    // a generation neither active nor grace: a lost fold's staging
    val dead = new HPath(s"$dir/g1-lostfold/postings")
    fs.mkdirs(dead)
    ServerMain.searchIndexSweep(g, idxBase)
    assert(!fs.exists(dead.getParent),
      "the index GC must reclaim a generation outside active + grace")
    assert(fs.exists(new HPath(s"$dir/${st.genDir}")), "active stays")
    assert(CdcIndexSync.search(spark, dir, Seq("gamma"), 5).collect().length == 1)
  }
}
