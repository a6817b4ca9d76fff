package graft.http

import org.apache.spark.sql.SparkSession
import graft.tsdb.Graft

/** Boot the facade the way the reference boots (`node orestes.js` reads
  * conf/orestes-config.json at startup — orestes.js:62 — and listens on its
  * configured port): one command, a config file, a store root.
  *
  * `runMain graft.http.ServerMain [configPath] [storeRoot]`
  *  - configPath defaults to the reference's own conf/orestes-config.json
  *    (cassandra/elasticsearch blocks are accepted-and-ignored, so a
  *    reference operator's existing file boots unchanged); a missing file
  *    boots the defaults (port 9668, 7-day buckets) with a notice.
  *  - storeRoot defaults to ./graft-data (any Hadoop-FS URI works —
  *    file:/hdfs:/s3a:).
  *
  * A per-space `keep_days` in the config turns on the retention daemon:
  * the sweep the reference runs per `/delete` request
  * (orestes-remover.js:16-39) runs here on a timer, hourly, so configured
  * retention is a standing policy rather than a client obligation.
  *
  * The store is a manifest/snapshot store — the only storage layout
  * (bootstrapManifest adopts bucket directories an older release left on
  * disk on first touch, so booting over an old root is migration-free).
  * Since r14 a standing COMPACTION daemon also rides the boot: it sweeps
  * every `compaction_sweep_minutes` (default 60; <= 0 disables), and any
  * space whose fragmentation report shows a bucket past
  * `compaction_max_files` (default 8) or still carrying write-sequence
  * stamps is compacted — the maintenance the reference delegates to
  * Cassandra's SSTable compaction, as a policy instead of an operator
  * chore. Each sweep then vacuums every space down to
  * `vacuum_keep_snapshots` (default 48 —
  * [[graft.tsdb.Graft.DefaultVacuumKeep]], deep enough that an external
  * daily CDC poller keeps its diff base, ADVICE r14; <= 0 disables the
  * vacuum half): compaction and retention are metadata-only commits, so
  * the daemon owns physical reclaim too — bounded disk is a boot default,
  * not an operator chore; the orphan grace window keeps the sweep safe
  * against other processes' in-flight commits.
  */
object ServerMain {
  /** Wire config -> store -> server (the testable core of the boot).
    * Returns the parsed Config too — the daemons read the SAME parse the
    * store booted from, so the two can never drift (code review r14). */
  def boot(spark: SparkSession, configPath: String,
           root: String): (Graft, GraftHttpServer, Graft.Config) = {
    val cfg =
      try Graft.loadConfig(spark, configPath)
      catch {
        case _: java.io.FileNotFoundException =>
          System.err.println(s"[graft] no config at $configPath — booting defaults")
          Graft.Config(Graft.DefaultPort, Map.empty)
      }
    val store = new Graft(spark, root,
      spaceGranularity = cfg.spaceGranularity,
      spaceKeepDays = cfg.spaceKeepDays,
      commitPrimitive = cfg.commitPrimitive)
    // `search_index`: /search serves from the CDC-maintained series index
    // under the store root, synced by the maintenance sweep — the
    // reference's ES architecture (search hits an index, not the store),
    // traded opt-in for /search freshness
    val idxBase =
      if (cfg.searchIndex) Some(s"$root/.search-index") else None
    (store, new GraftHttpServer(store, spark, port = cfg.port,
      continuousIngest = cfg.continuousIngest, searchIndexDir = idxBase), cfg)
  }

  /** One maintenance pass over every space's search index (advance —
    * which builds on first touch and CDC-syncs after — then FOLD once the
    * active generation accretes [[graft.streaming.CdcIndexSync.FoldBatches]]
    * sync batches, the ledger/postings lifecycle, r15) — the ONE copy of
    * the sweep policy, called by the standing daemon and by specs (review
    * r15: the daemon re-implemented it inline, so the two copies could
    * drift). `onError` is the per-space isolation: one space's broken
    * index must not stop another's sync; the default rethrows so specs
    * fail loudly. */
  def searchIndexSweep(g: Graft, idxBase: String,
                       onError: (String, Throwable) => Unit =
                         (_, e) => throw e): Unit =
    g.spaces().foreach { sp =>
      try {
        val dir = s"$idxBase/$sp"
        _root_.graft.streaming.CdcIndexSync.advance(g, dir, sp)
        val s = org.apache.spark.sql.SparkSession.active
        if (_root_.graft.streaming.CdcIndexSync.ledgerBatches(s, dir) >=
            _root_.graft.streaming.CdcIndexSync.FoldBatches)
          _root_.graft.streaming.CdcIndexSync.compactIndex(s, dir,
            g.configuredClaim)
        // generation GC + landing repair ride the same sweep (r17,
        // VERDICT r16 #5 + ADVICE r16 medium): dead staging and
        // out-of-grace generations are reclaimed between folds, and any
        // stale land claim (a copier that died between claim and done)
        // is taken over and its batch re-landed from the grace
        // generation — without this a crashed late-copy stays
        // committed-but-invisible until a rebuild
        _root_.graft.streaming.CdcIndexSync.vacuumIndex(s, dir)
        // ES-refresh parity (r18): materialize the searchable view for
        // the just-synced state so /search requests only probe postings
        // against the resident corpus side — never pay the alive-merge
        // or corpus-stats scans per request
        _root_.graft.streaming.CdcIndexSync.refreshServeCache(s, dir)
      } catch {
        case scala.util.control.NonFatal(e) => onError(sp, e)
      }
    }

  def main(args: Array[String]): Unit = {
    val configPath = args.lift(0).getOrElse("conf/orestes-config.json")
    val root = args.lift(1).getOrElse("graft-data")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // serving isolation (r18): HTTP request jobs run in the facade's
      // "graft-serve" pool, so under FAIR mode they round-robin against
      // the maintenance daemons' jobs (continuous-ingest landings, index
      // sync/fold, compaction sweeps) instead of queueing behind them —
      // measured: indexed /search p50 under sustained write load was
      // 2.97 s FIFO vs the 0.42 s quiet number, entirely scheduler queueing
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .appName("graft-server")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (g, srv, cfgForDaemons) = boot(spark, configPath, root)
    val port = srv.start()
    println(s"graft serving on 127.0.0.1:$port, store at $root")
    // configured retention becomes a standing hourly sweep
    val sweeper =
      if (gKeepDays(g).nonEmpty) {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          r => { val t = new Thread(r, "graft-retention"); t.setDaemon(true); t })
        ex.scheduleAtFixedRate(() =>
          try {
            val dropped = g.retentionSweep()
            dropped.filter(_._2.nonEmpty).foreach { case (sp, days) =>
              println(s"[graft] retention dropped buckets $days from $sp") }
          } catch { case e: Throwable => logSweepFailure("retention", e) },
          1, 60, java.util.concurrent.TimeUnit.MINUTES)
        Some(ex)
      } else None
    // the maintenance daemon (r14): compaction, search-index sync, and
    // vacuum share one standing sweep. Each half is independently gated
    // by ITS OWN config (review r14: nesting them under the compaction
    // gate made `search_index: true, compaction_sweep_minutes: 0` a
    // silently-stale index and disabled reclaim), each half's failure is
    // isolated (one space's broken index must not stop another space's
    // vacuum), and the halves run in dependency order: compaction commits
    // snapshots, index sync diffs up to the newest one, vacuum runs LAST
    // so the sync's diff-base snapshot still exists when sync needs it.
    val wantCompact = cfgForDaemons.compactionSweepMinutes > 0
    val wantIndex = cfgForDaemons.searchIndex
    val wantVacuum = cfgForDaemons.vacuumKeepSnapshots > 0
    val compactor =
      if (wantCompact || wantIndex || wantVacuum) {
        val mins = if (wantCompact) cfgForDaemons.compactionSweepMinutes.toLong
                   else 60L
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          r => { val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t })
        def half(what: String)(body: => Unit): Unit =
          try body
          catch { case e: Throwable => logSweepFailure(what, e) }
        ex.scheduleAtFixedRate(() => {
          if (wantCompact) half("compaction") {
            val done = g.compactionSweep(cfgForDaemons.compactionMaxFiles,
              cfgForDaemons.compactionTargetMb * 1024L * 1024)
            done.foreach { case (sp, swaps) =>
              println(s"[graft] compacted $sp: " + swaps.map { case (d, b, a) =>
                s"day $d $b->$a files" }.mkString(", ")) }
          }
          if (wantIndex) searchIndexSweep(g, s"$root/.search-index",
            (sp, e) => logSweepFailure(s"search-index $sp", e))
          if (wantVacuum) g.spaces().foreach { sp =>
            half(s"vacuum $sp") {
              val freed = g.vacuum(sp, cfgForDaemons.vacuumKeepSnapshots)
              if (freed.nonEmpty)
                println(s"[graft] vacuum reclaimed ${freed.size} files from $sp")
            }
          }
        }, mins, mins, java.util.concurrent.TimeUnit.MINUTES)
        Some(ex)
      } else None
    sys.addShutdownHook {
      sweeper.foreach(_.shutdownNow())
      compactor.foreach(_.shutdownNow())
      srv.stop() // flushes queued writes
      g.stopContinuous() // loss-free: uncommitted spool files replay on boot
      spark.stop()
    }
    Thread.currentThread().join() // serve until killed
  }

  private def gKeepDays(g: Graft): Map[String, Int] = g.configuredKeepDays

  /** A failed sweep half is logged with its exception class and stack
    * trace — a bare message (often null for NPEs and wrapped Spark errors)
    * cannot tell an operator what broke. */
  private def logSweepFailure(what: String, e: Throwable): Unit = {
    System.err.println(s"[graft] $what sweep failed: $e")
    e.printStackTrace()
  }
}
