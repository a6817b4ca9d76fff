package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import org.apache.hadoop.fs.{Path => HPath}
import scala.jdk.CollectionConverters._
import graft.streaming.{CdcIndexSync, CdcStream}
import graft.tsdb.Graft

/** One maintainer per search index: build, sync, the fold and the index
  * GC hold the index's maintenance lease (`_lease/lease_<n>`), so a
  * second maintainer waits, a fresh foreign lease is refused loudly after
  * the wait, a crashed holder's stale lease is taken over by exactly one
  * contender, a live holder's heartbeat keeps its lease from going stale,
  * and a holder whose lease was taken over commits nothing. */
class IndexLeaseSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  private def fsAt(p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def w(g: Graft, t: String, name: String): Unit =
    g.write(Seq((t, 1.0, name)).toDF("time", "value", "name"))

  /** A store holding `alpha`, indexed under `<root>/index`; with
    * `batches = 2` a second series is synced in, so the index can fold. */
  private def built(tag: String, batches: Int = 1): (Graft, String, String) = {
    val root = freshRoot(tag)
    val g = new Graft(spark, s"$root/store")
    val dir = s"$root/index"
    w(g, "2024-01-09T10:00:00Z", "alpha")
    CdcIndexSync.build(g, dir)
    if (batches > 1) {
      w(g, "2024-01-09T10:30:00Z", "omega")
      CdcIndexSync.sync(g, dir)
    }
    (g, dir, root)
  }

  /** The lease files under the index: name → owner token. */
  private def leases(dir: String): Map[String, String] = {
    val fs = fsAt(dir)
    val p = new HPath(s"$dir/_lease")
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("lease_"))
      .map(f => f.getName -> Graft.readSmallFile(fs, f).getOrElse("")).toMap
  }

  /** Leave a lease file the way a maintainer that died `ageMs` ago would:
    * present, its mtime no longer refreshed. */
  private def plantLease(dir: String, name: String, token: String,
                         ageMs: Long = 0L): Unit = {
    val fs = fsAt(dir)
    val f = new HPath(s"$dir/_lease/$name")
    Graft.writeSmallFile(fs, f, token)
    if (ageMs > 0) fs.setTimes(f, System.currentTimeMillis() - ageMs, -1L)
  }

  private def snapMarkers(dir: String): Set[String] =
    new java.io.File(s"$dir/_sync").list().toSet.filter(_.startsWith("snap_"))

  /** Run `body` with `hook` as the sync's commit-window hook, firing once. */
  private def onceInSyncWindow[T](hook: => Unit)(body: => T): T = {
    CdcIndexSync.syncCommitHook = () => {
      CdcIndexSync.syncCommitHook = () => ()
      hook
    }
    try body finally CdcIndexSync.syncCommitHook = () => ()
  }

  /** Run `body` with the lease timing seams set, restoring them after. */
  private def withTiming[T](waitMs: Long = 120000L, staleMs: Long = 60000L,
                            heartbeatMs: Long = 15000L)(body: => T): T = {
    val saved = (CdcStream.leaseWaitMs, CdcStream.leaseStaleMs,
      CdcStream.leaseHeartbeatMs)
    CdcStream.leaseWaitMs = waitMs
    CdcStream.leaseStaleMs = staleMs
    CdcStream.leaseHeartbeatMs = heartbeatMs
    try body
    finally {
      CdcStream.leaseWaitMs = saved._1
      CdcStream.leaseStaleMs = saved._2
      CdcStream.leaseHeartbeatMs = saved._3
    }
  }

  /** The index answers each term exactly as one rebuilt from scratch at
    * the same snapshot does. */
  private def assertAsRebuilt(g: Graft, dir: String, root: String,
                              terms: Seq[String]): Unit = {
    val rebuilt = s"$root/rebuilt-${System.nanoTime()}"
    CdcIndexSync.build(g, rebuilt)
    def hits(d: String, t: String) = CdcIndexSync.search(spark, d, Seq(t))
      .collect().toSeq.map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("score")))
    terms.foreach { t =>
      assert(hits(dir, t).nonEmpty, s"'$t' is not searchable")
      assert(hits(dir, t) == hits(rebuilt, t), s"'$t' differs from a rebuild")
    }
  }

  /** Relative paths of every `ingest_batch=` dir nested in another. */
  private def nestedBatches(dir: String): Seq[String] = {
    val fs = fsAt(dir)
    def walk(p: HPath): Seq[HPath] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(c => c +: walk(c))
    walk(new HPath(dir)).map(_.toUri.getPath)
      .filter(_.split('/').count(_.startsWith("ingest_batch=")) > 1)
  }

  test("two maintainers serialize; a fresh foreign lease fails sync loudly") {
    val (g, dir, root) = built("graft-lease-two")
    w(g, "2024-01-09T11:00:00Z", "beta")
    val first = CdcIndexSync.committedSnap(spark, dir)
    val inWindow = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    try onceInSyncWindow { inWindow.countDown(); release.await() } {
      val a = Competitor(CdcIndexSync.sync(g, dir))
      inWindow.await()
      w(g, "2024-01-09T12:00:00Z", "gamma")
      val b = Competitor(CdcIndexSync.maintain(g, dir, "default"))
      Thread.sleep(300)
      assert(a.running && b.running,
        "the second maintainer must wait while the first holds the lease")
      assert(CdcIndexSync.committedSnap(spark, dir) == first)
      assert(leases(dir).size == 1, s"one holder: ${leases(dir)}")
      release.countDown()
      a.join(); b.join()
    } finally release.countDown()
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max))
    assert(leases(dir).isEmpty, "both maintainers release their lease")
    assert(nestedBatches(dir).isEmpty, s"nested partitions: ${nestedBatches(dir)}")
    assertAsRebuilt(g, dir, root, Seq("alpha", "beta", "gamma"))

    // another process's live lease: the sync waits out leaseWaitMs, then
    // fails naming the dir and the holder, and leaves that lease alone
    plantLease(dir, "lease_7", "other-host-4242")
    w(g, "2024-01-09T13:00:00Z", "delta")
    val committed = CdcIndexSync.committedSnap(spark, dir)
    val ex = withTiming(waitMs = 300L) {
      intercept[IllegalStateException](CdcIndexSync.sync(g, dir))
    }
    assert(ex.getMessage.contains("other-host-4242") &&
      ex.getMessage.contains(s"$dir/_lease"), ex.getMessage)
    assert(leases(dir) == Map("lease_7" -> "other-host-4242"))
    assert(CdcIndexSync.committedSnap(spark, dir) == committed)
    fsAt(dir).delete(new HPath(s"$dir/_lease/lease_7"), false)
    CdcIndexSync.sync(g, dir)
    assertAsRebuilt(g, dir, root, Seq("delta"))
  }

  test("a maintainer that throws releases the lease and commits nothing") {
    val (g, dir, root) = built("graft-lease-throw")
    w(g, "2024-01-09T11:00:00Z", "beta")
    val before = CdcIndexSync.committedSnap(spark, dir)
    val boom = onceInSyncWindow(throw new RuntimeException("advance failed")) {
      intercept[RuntimeException](CdcIndexSync.sync(g, dir))
    }
    assert(boom.getMessage == "advance failed")
    assert(leases(dir).isEmpty, s"the lease must be released: ${leases(dir)}")
    assert(CdcIndexSync.committedSnap(spark, dir) == before)
    // a left-behind lease would make this wait, then throw
    withTiming(waitMs = 200L)(CdcIndexSync.sync(g, dir))
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max))
    assertAsRebuilt(g, dir, root, Seq("alpha", "beta"))
  }

  test("a crashed maintainer's stale lease is taken over and its leftovers cleaned") {
    val (g, dir, root) = built("graft-lease-stale")
    w(g, "2024-01-09T11:00:00Z", "beta")
    // the crash: beta's batch landed, its marker did not, and the dead
    // maintainer's lease stayed behind, unrefreshed for ten minutes
    onceInSyncWindow(throw new RuntimeException("crash")) {
      intercept[RuntimeException](CdcIndexSync.sync(g, dir))
    }
    val crashed = g.snapshots().max
    val left = new HPath(s"$dir/counts/ingest_batch=$crashed")
    val fs = fsAt(dir)
    assert(fs.exists(left) && CdcIndexSync.committedSnap(spark, dir).get < crashed,
      "precondition: partitions above the committed marker")
    plantLease(dir, "lease_3", "crashed-maintainer", ageMs = 600000L)

    w(g, "2024-01-09T12:00:00Z", "gamma")
    CdcIndexSync.sync(g, dir) // default timing: 10 minutes is stale
    assert(!fs.exists(left), "the crashed advance's partitions must be cleaned")
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max))
    assert(leases(dir).isEmpty,
      s"the taker deletes the stale lease and releases its own: ${leases(dir)}")
    assertAsRebuilt(g, dir, root, Seq("alpha", "beta", "gamma"))
  }

  test("two contenders racing for one stale lease yield exactly one holder") {
    val (g, dir, root) = built("graft-lease-race", batches = 2)
    w(g, "2024-01-09T11:00:00Z", "beta")
    plantLease(dir, "lease_1", "crashed-maintainer", ageMs = 600000L)
    // both contenders do work that passes a commit window: the sync lands
    // beta, the fold folds two or more batches, whichever goes first
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val window = () => {
      maxInside.accumulateAndGet(inside.incrementAndGet(), math.max)
      seen.add(leases(dir))
      Thread.sleep(300)
      inside.decrementAndGet()
      ()
    }
    CdcIndexSync.syncCommitHook = window
    CdcIndexSync.foldCommitHook = window
    val gate = new CountDownLatch(1)
    try {
      val sync = Competitor { gate.await(); CdcIndexSync.sync(g, dir) }
      val fold = Competitor { gate.await(); CdcIndexSync.compactIndex(spark, dir) }
      gate.countDown()
      sync.join(); fold.join()
    } finally {
      CdcIndexSync.syncCommitHook = () => ()
      CdcIndexSync.foldCommitHook = () => ()
    }
    assert(seen.size == 2, s"both contenders passed a commit window: $seen")
    assert(maxInside.get == 1, "the two commit windows overlapped")
    seen.asScala.foreach { ls =>
      assert(ls.size == 1 && !ls.values.exists(_ == "crashed-maintainer"),
        s"exactly one live lease per window, the stale one gone: $ls")
    }
    assert(leases(dir).isEmpty)
    assert(CdcIndexSync.state(spark, dir).get.gen == 1L)
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max))
    assertAsRebuilt(g, dir, root, Seq("alpha", "omega", "beta"))
  }

  test("the lease mtime advances while a slow advance holds it") {
    val (g, dir, _) = built("graft-lease-beat")
    w(g, "2024-01-09T11:00:00Z", "beta")
    val inWindow = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withTiming(heartbeatMs = 25L, staleMs = 200L) {
      try onceInSyncWindow { inWindow.countDown(); release.await() } {
        val slow = Competitor(CdcIndexSync.sync(g, dir))
        inWindow.await()
        val f = new HPath(s"$dir/_lease/${leases(dir).keys.head}")
        val fs = fsAt(dir)
        val m0 = fs.getFileStatus(f).getModificationTime
        // a contender arriving now must wait: three stale periods pass,
        // but the heartbeat keeps the holder's lease fresh
        val other = Competitor(CdcIndexSync.sync(g, dir))
        Thread.sleep(600L)
        val m1 = fs.getFileStatus(f).getModificationTime
        assert(m1 > m0, s"lease mtime must advance ($m0 -> $m1)")
        assert(slow.running && other.running && leases(dir).size == 1,
          s"a live holder must not be taken over: ${leases(dir)}")
        release.countDown()
        slow.join(); other.join()
      } finally release.countDown()
    }
    assert(leases(dir).isEmpty)
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max))
  }

  test("a holder whose lease was taken over commits no snap_ or fold_ marker") {
    val (g, dir, root) = built("graft-lease-fence", batches = 2)
    val fs = fsAt(dir)
    // what a contender does once this holder has missed its beats for
    // leaseStaleMs: claim the next number, delete the lease below it
    def takeOver(): Unit = {
      val held = leases(dir).keys.map(_.stripPrefix("lease_").toLong).max
      assert(Graft.claimAt(fs, new HPath(s"$dir/_lease/lease_${held + 1}"),
        "taker", Graft.resolveClaim(fs, Graft.PrimAuto, "spec")))
      fs.delete(new HPath(s"$dir/_lease/lease_$held"), false)
    }
    def dropTaker(): Unit = leases(dir).keys.foreach(n =>
      fs.delete(new HPath(s"$dir/_lease/$n"), false))

    w(g, "2024-01-09T11:00:00Z", "beta")
    val markers = snapMarkers(dir)
    val ex = onceInSyncWindow(takeOver()) {
      intercept[IllegalStateException](CdcIndexSync.sync(g, dir))
    }
    assert(ex.getMessage.contains("taken over"), ex.getMessage)
    assert(snapMarkers(dir) == markers, "a fenced sync must commit no marker")
    assert(leases(dir).values.toSeq == Seq("taker"),
      "the fenced holder must leave the taker's lease alone")
    dropTaker()

    val gen = CdcIndexSync.state(spark, dir).get.gen
    CdcIndexSync.foldCommitHook = () => {
      CdcIndexSync.foldCommitHook = () => ()
      takeOver()
    }
    val exF = try intercept[IllegalStateException](CdcIndexSync.compactIndex(spark, dir))
      finally CdcIndexSync.foldCommitHook = () => ()
    assert(exF.getMessage.contains("taken over"), exF.getMessage)
    assert(!new java.io.File(s"$dir/_sync").list().exists(_.startsWith("fold_")),
      "a fenced fold must claim no fold marker")
    assert(CdcIndexSync.state(spark, dir).get.gen == gen)
    dropTaker()

    // the next maintainer cleans the fenced sync's landing and lands beta
    CdcIndexSync.sync(g, dir)
    assertAsRebuilt(g, dir, root, Seq("alpha", "omega", "beta"))
  }

  test("re-entering the lease on the holding thread throws at once") {
    val (g, dir, _) = built("graft-lease-reentry")
    w(g, "2024-01-09T11:00:00Z", "beta")
    var nested: Throwable = null
    var tookMs = 0L
    onceInSyncWindow {
      val t0 = System.nanoTime()
      nested = intercept[IllegalStateException](CdcIndexSync.compactIndex(spark, dir))
      tookMs = (System.nanoTime() - t0) / 1000000L
    } {
      CdcIndexSync.sync(g, dir)
    }
    assert(nested.getMessage.contains("already holds"), nested.getMessage)
    assert(tookMs < 5000L, s"re-entry must not wait for the lease: ${tookMs}ms")
    assert(CdcIndexSync.committedSnap(spark, dir) == Some(g.snapshots().max),
      "the outer sync still commits")
    assert(leases(dir).isEmpty)
  }
}
