package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tsdb.Graft

/** The standing CDC consumer contract, generalized (r15, VERDICT r14 #5):
  * the advance-commit-replay discipline over [[Graft.changes]], written
  * once. The series search index ([[CdcIndexSync]]) is one [[foreachDiff]]
  * consumer; USER pipelines are others, so an incremental aggregate gets
  * the same exactly-once story without copying the marker code.
  *
  * The discipline (the reference has no storage-level history at all —
  * this is the part of graft's storage layer that goes past it, in the
  * shape Iceberg/Delta CDC consumers use):
  *
  *  1. One advancer per `stateDir`: every advance holds the consumer's
  *     lease (`stateDir/_lease/lease_<n>`, a heartbeat-refreshed owner
  *     token), in this process or any other — the one active run per
  *     checkpoint that Structured Streaming's exactly-once rests on.
  *  2. Under the lease, `from` = the consumer's committed marker (a
  *     `snap_<seq>-<nonce>` create-only file under `stateDir/_sync`),
  *     `to` = the store's current committed snapshot.
  *  3. The callback receives the diff and MUST land its effects under
  *     `stateDir`, keyed by `to` idempotently — [[land]] is the canonical
  *     helper (dynamic partition overwrite on `ingest_batch = to`, the
  *     [[DedupStream]]/[[QualityStream]] replay discipline). A plain
  *     append here would double-count on replay; that is the one rule a
  *     consumer must follow.
  *  4. The marker commits AFTER the callback returns, and only while the
  *     lease is still this advancer's. A crash between the two leaves
  *     `ingest_batch` partitions above the marker; the next advance
  *     deletes them before its callback runs, so they never become
  *     visible under a later marker, whatever was written in between.
  *
  * Reset classes (both resolved by replaying from scratch, like a
  * consumer whose checkpoint was truncated): the store's history
  * RESTARTED below the marker (space wiped and re-created), or vacuum
  * expired the marker's snapshot so no diff base exists. `onReset`
  * receives the FULL state at `to` — the consumer rebuilds, again keyed
  * by `to`, after wiping whatever partial state it owns.
  *
  * Scale: [[foreachDiff]] reads only the change feed ([[Graft.changes]]
  * skips bucket days whose immutable segment reference is identical in
  * both snapshots), so a steady consumer pays proportional to what
  * changed — a pure compaction between polls is an EMPTY diff (the
  * callback still runs, so count-style consumers stay exact). The
  * leftover cleanup lists `stateDir`'s directories down to its
  * `ingest_batch` level.
  */
object CdcStream {

  /** A consumer's committed progress: the snapshot seq and the marker
    * file name that recorded it. The NAME carries a per-commit nonce —
    * two different builds that land the same seq (a wiped-and-recreated
    * store) still produce distinguishable markers, which is what lets a
    * cache key on the marker name instead of the seq (VERDICT r14 #3).
    */
  case class Progress(snap: Long, marker: String)

  private[streaming] def fsOf(s: SparkSession,
                              p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(s.sparkContext.hadoopConfiguration), hp)
  }

  /** The snapshot seq a `snap_<seq>-<nonce>` marker name records. */
  private[streaming] def seqOf(name: String): Long =
    name.stripPrefix("snap_").takeWhile(_ != '-').toLong

  /** The consumer's committed progress: the highest `snap_*` marker under
    * `stateDir/_sync`, or None for a never-advanced consumer. Legacy
    * markers without a nonce (pre-r15 indexes) parse fine.
    */
  def committed(s: SparkSession, stateDir: String): Option[Progress] = {
    val (fs, dir) = fsOf(s, s"$stateDir/_sync")
    if (!fs.exists(dir)) None
    else {
      val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("snap_"))
      if (names.isEmpty) None
      else { val m = names.maxBy(seqOf); Some(Progress(seqOf(m), m)) }
    }
  }

  /** Commit progress at `snap`: data first, marker last — the marker's
    * existence proves its batch landed whole. Markers are create-only
    * (never overwritten) and carry a nonce in the name. The marker lands
    * through the store's claim toolkit ([[Graft.claimAt]], r16 — VERDICT
    * r15 #3): `primitive` is the store's CONFIGURED `commit_primitive`,
    * resolved here against the filesystem actually holding `stateDir`, so
    * a consumer-state dir on a scheme with no known-atomic claim refuses
    * loudly up front instead of riding a bare create. The nonce makes the
    * name unique, so a claim loss means a real collision — surfaced, not
    * swallowed. Lower-seq markers are pruned after the new one lands
    * (best-effort): readers only ever take the max, and without pruning
    * the `_sync` listing — on the facade's per-request hot path — grows
    * one file per sync forever (review r15). Returns the marker name. */
  def commit(s: SparkSession, stateDir: String, snap: Long,
             primitive: String = Graft.PrimAuto): String = {
    val (fs, dir) = fsOf(s, s"$stateDir/_sync")
    fs.mkdirs(dir)
    val resolved = Graft.resolveClaim(fs, primitive,
      s"CDC progress marker at $stateDir")
    val name = s"snap_$snap-${Graft.nonce()}"
    if (!Graft.claimAt(fs, new HPath(dir, name), "", resolved))
      throw new IllegalStateException(
        s"progress marker $name already exists at $stateDir/_sync — " +
          "nonce collision or a non-atomic claim primitive on this store")
    try fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("snap_") && seqOf(n) < snap)
        fs.delete(st.getPath, false)
    } catch { case _: java.io.IOException => () } // pruning is optional
    name
  }

  /** The store-identity nonce ([[Graft.storeIdentity]]) this consumer's
    * progress was recorded against — None for a pre-r15 consumer state.
    * A mismatch with the live store means the space was wiped and
    * re-created: every committed marker refers to a DEAD history, so the
    * only sound move is a reset (snapshot seqs restart at 1 and can
    * coincide with the marker's — the seq alone cannot detect this). */
  def recordedIdentity(s: SparkSession, stateDir: String): Option[String] = {
    val (fs, f) = fsOf(s, s"$stateDir/_sync/store")
    Graft.readSmallFile(fs, f).map(_.trim)
  }

  /** Record the store identity (overwrite: a reset REBINDS the consumer
    * to the new history). */
  def recordIdentity(s: SparkSession, stateDir: String, id: String): Unit = {
    val (fs, f) = fsOf(s, s"$stateDir/_sync/store")
    Graft.writeSmallFile(fs, f, id)
  }

  /** The idempotent landing — every `ingest_batch`-keyed write in graft
    * goes through here: the stream operators' state and outputs, the
    * search index's families and its fold. Partition the batch's effects
    * by `partitionBy` (leading columns, e.g. `"bucket"`) and then by the
    * snapshot or micro-batch they advance to, under dynamic partition
    * overwrite — a replayed batch rewrites its own partitions
    * bit-identically instead of appending a duplicate. Read the state
    * back with [[readState]] (or any `ingest_batch`-agnostic aggregate).
    * A row-less `df` still writes (an empty dir with no partitions);
    * callers that must not create one skip the call.
    *
    * Landings into one dir are serialized in-process: two concurrent
    * dynamic overwrites of the SAME partition can both delete it and then
    * both rename their staging copy in, and the second rename nests
    * `ingest_batch=n/ingest_batch=n` — a layout every later read rejects.
    * Landings from different processes are not serialized.
    */
  def land(df: DataFrame, dir: String, snap: Long,
           partitionBy: String*): Unit = {
    val (fs, p) = fsOf(df.sparkSession, dir)
    landLocks.computeIfAbsent(fs.makeQualified(p).toString, _ => new Object)
      .synchronized {
        df.withColumn("ingest_batch", lit(snap))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionBy :+ "ingest_batch": _*)
          .parquet(dir)
      }
  }

  private val landLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Read a [[land]]-maintained state dir as one frame under its declared
    * `schema` — never schema inference, so `ingest_batch` reads back as
    * the declared type. An absent dir, or one with no partitions (a
    * row-less landing), reads as the declared empty frame: a zero-row
    * consumer state is a normal state, not a schema-inference error. */
  def readState(s: SparkSession, dir: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val (fs, p) = fsOf(s, dir)
    if (!fs.exists(p)) s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).parquet(dir)
  }

  /** Advance a consumer from its committed snapshot to the store's
    * current one — ONE call a standing sweep makes unconditionally, under
    * the consumer's lease ([[withLease]]: a second advancer of the same
    * `stateDir` waits for this one, then starts from its marker).
    *
    *  - never advanced (or history restarted / diff base vacuumed):
    *    `onReset(fullStateAt(to), to)` — the consumer wipes its state and
    *    rebuilds, keyed by `to`;
    *  - behind: the leftovers of a crashed advance are deleted, then
    *    `onDiff(changes(from, to), to)` — the consumer applies the diff
    *    idempotently keyed by `to` ([[land]] under `stateDir`);
    *  - current: neither callback runs.
    *
    * The marker commits only after the callback returns; a crash (or a
    * callback that throws) commits nothing, and the next call starts
    * again from the committed marker. Calling it again on the same
    * `stateDir` from inside a callback throws at once. Returns the
    * snapshot the consumer is now committed at.
    */
  def foreachDiff(g: Graft, space: String = "default", stateDir: String)
                 (onReset: (DataFrame, Long) => Unit)
                 (onDiff: (DataFrame, Long) => Unit): Long =
    withLease(SparkSession.active, stateDir, g.configuredClaim,
      "CDC progress marker")(advance(g, space, stateDir, _)(onReset)(onDiff))

  /** [[foreachDiff]]'s body, run under `lease`, which the caller holds
    * for `stateDir` ([[CdcIndexSync]] holds it across advance, fold and
    * reclaim). `lease` is fenced before either marker commit, so an
    * advancer whose lease was taken over commits nothing. */
  private[graft] def advance(g: Graft, space: String, stateDir: String,
                             lease: Lease)
                            (onReset: (DataFrame, Long) => Unit)
                            (onDiff: (DataFrame, Long) => Unit): Long = {
    val s = SparkSession.active
    val snaps = g.snapshots(space)
    if (snaps.isEmpty) throw new IllegalStateException(
      s"no committed snapshots in space '$space' — CDC consumption needs " +
        "a store with at least one write")
    val to = snaps.max
    // the marker only means something against the history it was taken
    // from: a wiped-and-recreated space (fresh storeIdentity) resets even
    // when the new history coincidentally reaches the marker's seq. A
    // pre-identity consumer state (None) resets once and is then bound.
    val sameStore =
      recordedIdentity(s, stateDir).contains(g.storeIdentity(space))
    committed(s, stateDir) match {
      case Some(Progress(from, _)) if sameStore && from == to => to
      case Some(Progress(from, _))
          if sameStore && from < to && snaps.contains(from) =>
        cleanupAbove(s, stateDir, from)
        onDiff(g.changes(from, to, space), to)
        lease.fence()
        commit(s, stateDir, to, g.configuredClaim)
        to
      case _ => // never advanced, history restarted, or diff base expired
        onReset(g.readAt(to, """{"match_all":{}}""", space), to)
        lease.fence()
        // markers from the dead history must go BEFORE the fresh one
        // lands: committed() takes the max seq, so a stale snap_5 from a
        // wiped store would out-rank a fresh snap_2 and force a reset on
        // EVERY subsequent call until the new history passed seq 5
        clearMarkers(s, stateDir)
        recordIdentity(s, stateDir, g.storeIdentity(space))
        commit(s, stateDir, to, g.configuredClaim)
        to
    }
  }

  /** Delete every `ingest_batch=<n>` dir with `n > committed` under
    * `stateDir`, at any depth (`bucket=` and generation dirs included) —
    * a crashed or fenced-out advance's landing, which would otherwise
    * become visible the moment a LATER marker commits. Partitions at or
    * below the marker are not descended into. */
  private def cleanupAbove(s: SparkSession, stateDir: String,
                           committed: Long): Unit = {
    val (fs, root) = fsOf(s, stateDir)
    def sweep(p: HPath): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n != "_sync" && n != LeaseDir)
        if (!n.startsWith("ingest_batch=")) sweep(st.getPath)
        else if (n.stripPrefix("ingest_batch=").toLongOption
            .exists(_ > committed)) fs.delete(st.getPath, true)
    }
    if (fs.exists(root)) sweep(root)
  }

  /** Drop all progress markers — a reset rebinds the consumer to a new
    * history whose seqs restart, so old markers are not just stale but
    * actively wrong (they compare against the new history's seqs). */
  private def clearMarkers(s: SparkSession, stateDir: String): Unit = {
    val (fs, dir) = fsOf(s, s"$stateDir/_sync")
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.startsWith("snap_"))
          fs.delete(st.getPath, false)
      }
  }

  // ---- the consumer lease ------------------------------------------------
  //
  // One advancer per state dir, whether the competing one runs in this
  // process or another: a numbered file `lease_<n>` under
  // `<stateDir>/_lease` whose body is the holder's owner token. It lives
  // outside `_sync` (the readers' per-request listing). Readers take no
  // lease.

  private[streaming] val LeaseDir = "_lease"

  /** Lease timing — test seams, not config. The holder refreshes its
    * lease file's mtime every [[leaseHeartbeatMs]]; a lease unrefreshed
    * for [[leaseStaleMs]] (four missed beats) belongs to a dead or frozen
    * holder and is taken over — soon enough that a crash-restarted
    * server's first sweep, a minute after boot, takes it. A contender
    * waits up to [[leaseWaitMs]] for a live holder, then fails. */
  private[graft] var leaseHeartbeatMs: Long = 15000L
  private[graft] var leaseStaleMs: Long = 60000L
  private[graft] var leaseWaitMs: Long = 120000L

  /** The lease dirs the calling thread holds: a nested acquire would wait
    * on itself, so it is refused at once. */
  private val heldHere =
    ThreadLocal.withInitial[Set[String]](() => Set.empty[String])

  /** A held lease, `lease_<n>` carrying `token`, its mtime kept fresh by a
    * daemon heartbeat until [[release]]. */
  private[graft] final class Lease(fs: FileSystem, dir: HPath, n: Long,
                                    token: String) {
    private val file = new HPath(dir, s"lease_$n")
    private val stop = new java.util.concurrent.CountDownLatch(1)
    private val beat = new Thread(() =>
      while (!stop.await(leaseHeartbeatMs,
          java.util.concurrent.TimeUnit.MILLISECONDS))
        try fs.setTimes(file, System.currentTimeMillis(), -1L)
        catch { case _: java.io.IOException => () },
      s"graft-cdc-lease-$n")
    beat.setDaemon(true)
    beat.start()

    private def mine: Boolean =
      try Graft.readSmallFile(fs, file).contains(token)
      catch { case _: java.io.IOException => false }

    /** The check before every commit point: this holder's file still
      * carries its token and no higher-numbered lease exists — otherwise
      * another advancer took the lease over (this one missed its beats
      * for [[leaseStaleMs]]) and this one must commit nothing. */
    def fence(): Unit =
      if (!mine || leaseFiles(fs, dir).exists(_._1 > n))
        throw new IllegalStateException(
          s"the CDC consumer lease lease_$n at $dir was taken over while " +
            s"this advancer held it (no heartbeat for ${leaseStaleMs}ms) — " +
            "nothing is committed; the new holder advances the consumer")

    def release(): Unit = {
      stop.countDown()
      beat.join()
      if (mine) fs.delete(file, false)
    }
  }

  /** The `lease_<n>` files under `dir`, as (n, status). */
  private def leaseFiles(fs: FileSystem, dir: HPath): Seq[(Long, FileStatus)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith("lease_")) None
      else name.stripPrefix("lease_").toLongOption.map(_ -> st)
    }

  /** Run `body` holding `stateDir`'s lease, released on exit whether or
    * not `body` throws. The lease is claimed through `primitive` resolved
    * for the state dir's filesystem; `what` names the marker the
    * operation commits, so an unknown scheme is refused naming it. */
  private[streaming] def withLease[T](s: SparkSession, stateDir: String,
                                      primitive: String, what: String)
                                     (body: Lease => T): T = {
    val (fs, root) = fsOf(s, stateDir)
    val dir = new HPath(root, LeaseDir)
    val key = fs.makeQualified(dir).toString
    if (heldHere.get()(key)) throw new IllegalStateException(
      s"this thread already holds the CDC consumer lease at $stateDir — a " +
        "nested foreachDiff (or index build/sync/compactIndex/vacuumIndex) " +
        "would wait on itself")
    val lease = acquire(fs, dir,
      Graft.resolveClaim(fs, primitive, s"$what at $stateDir"))
    heldHere.set(heldHere.get() + key)
    try body(lease)
    finally {
      heldHere.set(heldHere.get() - key)
      lease.release()
    }
  }

  /** Claim the lease. With no lease, or a stale highest one, claim the
    * next number through the exclusive claim — two contenders that saw
    * the same stale lease race for one name, so exactly one holds it —
    * and delete the leases below it. A fresh lease is waited out for
    * [[leaseWaitMs]], then refused naming its holder's token. */
  private def acquire(fs: FileSystem, dir: HPath, resolved: String): Lease = {
    val token = s"${ProcessHandle.current().pid()}-" +
      java.util.UUID.randomUUID().toString
    val deadline = System.nanoTime() + leaseWaitMs * 1000000L
    fs.mkdirs(dir)
    @scala.annotation.tailrec
    def attempt(): Lease = {
      val leases = leaseFiles(fs, dir)
      val top = leases.maxByOption(_._1)
      val fresh = top.exists(t =>
        System.currentTimeMillis() - t._2.getModificationTime < leaseStaleMs)
      if (!fresh) {
        val n = top.fold(0L)(_._1) + 1
        if (Graft.claimAt(fs, new HPath(dir, s"lease_$n"), token, resolved)) {
          leases.foreach(l => fs.delete(l._2.getPath, false))
          new Lease(fs, dir, n, token)
        } else attempt() // another contender took n: look again
      } else if (System.nanoTime() > deadline) {
        val holder = top.flatMap(t => Graft.readSmallFile(fs, t._2.getPath))
        throw new IllegalStateException(
          s"the CDC consumer lease at $dir is held by " +
            s"'${holder.getOrElse("?")}' (waited ${leaseWaitMs}ms): another " +
            "advance of this state dir (a foreachDiff, or an index build, " +
            "sync, fold or GC) is running — retry when it finishes; a " +
            s"holder silent for ${leaseStaleMs}ms is taken over")
      } else {
        Thread.sleep(50L)
        attempt()
      }
    }
    attempt()
  }
}
