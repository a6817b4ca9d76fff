package graft.http

import java.util.concurrent.{Executors, TimeUnit}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.streaming.CdcIndexSync
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
  * The store is a manifest/snapshot store — the only storage layout
  * (bootstrapManifest adopts bucket directories an older release left on
  * disk on first touch, so booting over an old root is migration-free).
  *
  * Maintenance is ONE standing pass, [[sweep]], on one
  * `graft-maintenance` thread: first 1 minute after boot, then every
  * `compaction_sweep_minutes` (every 60 minutes when that is <= 0). It
  * runs, in dependency order and each under its own config key:
  *  1. retention for every space with a `keep_days` — the sweep the
  *     reference runs per `/delete` request (orestes-remover.js:16-39),
  *     here a standing policy rather than a client obligation;
  *  2. compaction (`compaction_sweep_minutes` > 0) of any space whose
  *     fragmentation report shows a bucket past `compaction_max_files` or
  *     still carrying write-sequence stamps — the maintenance the
  *     reference delegates to Cassandra's SSTable compaction;
  *  3. the search index (`search_index`): advance, fold, index GC and the
  *     serving view ([[graft.streaming.CdcIndexSync.maintain]]);
  *  4. vacuum (`vacuum_keep_snapshots` > 0, default 48 —
  *     [[graft.tsdb.Graft.DefaultVacuumKeep]], deep enough that an
  *     external daily CDC poller keeps its diff base): retention and
  *     compaction are metadata-only commits, so the sweep owns physical
  *     reclaim too; it runs LAST so the index's diff base still exists
  *     when the index step needs it, and the orphan grace window keeps it
  *     safe against other processes' in-flight commits.
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

  /** One maintenance pass over every space's configured policy, in
    * dependency order: retention (spaces with `keep_days`), compaction
    * (`compaction_sweep_minutes` > 0), the search index under `idxBase`
    * (`search_index`), vacuum (`vacuum_keep_snapshots` > 0). Retention and
    * compaction commit snapshots, the index advances to the newest one,
    * and vacuum runs last so the index's diff base still exists when it
    * advances. Each step, and each space within a step, is isolated: a
    * failure goes to `onError` as "<step> <space>" and the pass goes on.
    * The standing daemon's one body; specs drive it directly. */
  def sweep(g: Graft, cfg: Graft.Config, idxBase: String,
            onError: (String, Throwable) => Unit = logSweepFailure): Unit = {
    def each(step: String, spaces: Iterable[String])(body: String => Unit): Unit =
      spaces.foreach { sp =>
        try body(sp)
        catch { case NonFatal(e) => onError(s"$step $sp", e) }
      }
    each("retention", g.configuredKeepDays.keys) { sp =>
      val days = g.remove(g.configuredKeepDays(sp), sp)
      if (days.nonEmpty)
        println(s"[graft] retention dropped buckets $days from $sp")
    }
    if (cfg.compactionSweepMinutes > 0) each("compaction", g.spaces()) { sp =>
      val swaps = g.compactIfFragmented(sp, cfg.compactionMaxFiles,
        cfg.compactionTargetMb * 1024L * 1024)
      if (swaps.nonEmpty)
        println(s"[graft] compacted $sp: " + swaps.map { case (d, b, a) =>
          s"day $d $b->$a files" }.mkString(", "))
    }
    if (cfg.searchIndex)
      searchIndexSweep(g, idxBase, (sp, e) => onError(s"search-index $sp", e))
    if (cfg.vacuumKeepSnapshots > 0) each("vacuum", g.spaces()) { sp =>
      val freed = g.vacuum(sp, cfg.vacuumKeepSnapshots)
      if (freed.nonEmpty)
        println(s"[graft] vacuum reclaimed ${freed.size} files from $sp")
    }
  }

  /** The search-index step of [[sweep]]: one
    * [[graft.streaming.CdcIndexSync.maintain]] pass per space (advance,
    * fold, index GC, serving view). `onError` is the per-space isolation:
    * one space's broken index must not stop another's; the default
    * rethrows so specs fail loudly. */
  def searchIndexSweep(g: Graft, idxBase: String,
                       onError: (String, Throwable) => Unit =
                         (_, e) => throw e): Unit =
    g.spaces().foreach { sp =>
      try CdcIndexSync.maintain(g, s"$idxBase/$sp", sp)
      catch { case NonFatal(e) => onError(sp, e) }
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
    val (g, srv, cfg) = boot(spark, configPath, root)
    val port = srv.start()
    println(s"graft serving on 127.0.0.1:$port, store at $root")
    val mins =
      if (cfg.compactionSweepMinutes > 0) cfg.compactionSweepMinutes.toLong
      else 60L
    val maintenance = Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t })
    // a throw escaping the task would cancel every later pass
    maintenance.scheduleAtFixedRate(() =>
      try sweep(g, cfg, s"$root/.search-index")
      catch { case e: Throwable => logSweepFailure("maintenance", e) },
      1, mins, TimeUnit.MINUTES)
    sys.addShutdownHook {
      maintenance.shutdownNow()
      srv.stop() // flushes queued writes
      g.stopContinuous() // loss-free: uncommitted spool files replay on boot
      spark.stop()
    }
    Thread.currentThread().join() // serve until killed
  }

  /** A failed sweep step is logged with its exception class and stack
    * trace — a bare message (often null for NPEs and wrapped Spark errors)
    * cannot tell an operator what broke. */
  private def logSweepFailure(what: String, e: Throwable): Unit = {
    System.err.println(s"[graft] $what sweep failed: $e")
    e.printStackTrace()
  }
}
