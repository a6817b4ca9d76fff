package graft.tsdb

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Det

/** Embedded TSDB API with the reference's surface (lib/orestes.js:245-256:
  * write / read / count_points / get_stream_list / select_distinct / remove),
  * storage-backed: one parquet dataset per space, partitioned by time bucket.
  *
  * Layout: `<root>/<space>/bucket_day=<day>/…` — the Spark re-expression of
  * Orestes' one-Cassandra-table-plus-one-ES-index-per-(space, bucket)
  * (lib/orestes-utils.js:63-79). Which files in those directories are live
  * is decided by a per-space manifest/snapshot commit log under
  * `<root>/.manifest/<space>`, never by a directory listing (see the
  * manifest/snapshot section below). Bucket pruning on the snapshot
  * replaces the valid-days index lookup; retention drops whole buckets from
  * the live set exactly like the reference drops whole tables
  * (lib/orestes-remover.js:28-39), with physical deletion deferred to
  * [[vacuum]]; series search is predicate pushdown instead of an
  * Elasticsearch query.
  *
  * Points are rows with a `time` (string or numeric ms), a numeric `value`,
  * and at least one tag column; series identity = the tag columns.
  */
class Graft(spark: SparkSession, root: String,
            spaceGranularity: Map[String, Int] = Map.empty,
            spaceKeepDays: Map[String, Int] = Map.empty,
            maxQueuedPoints: Int = 1000000,
            spoolCleanup: Boolean = true,
            commitPrimitive: String = Graft.PrimAuto) {
  import Graft._

  private def spacePath(space: String) = s"$root/$space"

  /** All storage maintenance goes through the Hadoop FileSystem API — the
    * root may be `file:`, `hdfs:`, `s3a:`, …; at 100 TB it is never a local
    * disk, and `java.io.File` would silently see nothing there.
    */
  private def fsOf(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def isDir(fs: FileSystem, p: HPath): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isDirectory

  /** Bucket granularity for a space — per-space config, falling back to
    * the `default` space's and then to [[Tsdb.GranularityDays]], like the
    * reference's `spaces.<name>.table_granularity_days`
    * (conf/orestes-config.json; test/multiple-spaces.spec.js runs default=1
    * and other=7 side by side).
    */
  private def granularityOf(space: String): Int =
    spaceGranularity.getOrElse(space,
      spaceGranularity.getOrElse("default", Tsdb.GranularityDays))

  /** `/write`: validate and land points, bucket-partitioned. Returns the
    * rejected rows with their error, like the reference's per-point errors
    * response (lib/orestes-inserter.js:183-201).
    *
    * Re-writing an existing (series, time) point OVERWRITES it: the
    * reference's `INSERT INTO (attrs, offset, value)` is a Cassandra
    * UPSERT on the (attrs, offset) primary key (lib/orestes-utils.js:17),
    * so last write wins. Parquet is append-only, so graft gets the same
    * semantics merge-on-read: every batch is stamped with a write sequence
    * (`writeSeq`, by default the instance's strictly-monotonic wall-clock-
    * anchored generator shared with the queued path — the reference's
    * effective ordering; injectable for determinism) and reads keep only
    * the max-sequence row per (series, time). [[compact]] applies the same
    * rule physically so compacted buckets don't re-pay the merge.
    */
  def write(points: DataFrame, space: String = "default",
            writeSeq: Long = nextSeq()): DataFrame = {
    // a pre-stamped frame (the queued-write flush) carries its own per-row
    // sequence — each coalesced client batch keeps its place in the
    // last-write-wins order even though they all land in ONE job
    val tagCols = points.columns.filterNot(c =>
      c == "time" || c == "value" || c == WseqCol)
    require(tagCols.nonEmpty, "metrics must have at least one tag")
    val stamp =
      if (points.columns.contains(WseqCol)) col(WseqCol) else lit(writeSeq)
    val validated = Graft.validated(points, tagCols)
    val good = validated.where(col("__error").isNull)
      .select(tagCols.map(col) ++ Seq(
        col("__time_ms").as("time_ms"), col("value").cast("double").as("value"),
        stamp.as(WseqCol),
        Tsdb.bucketOf(col("__time_ms"), granularityOf(space)).as("bucket_day")): _*)
    // sort within each write task by (bucket, tags, time): leading with the
    // partition column satisfies the partitioned writer's required ordering
    // (otherwise it re-sorts by bucket alone, unstably, destroying the inner
    // order), and the (tags, time) tail keeps row-group min/max selective —
    // the reference's (attrs, offset) clustering order
    val sorted = good
      .sortWithinPartitions(col("bucket_day") +: tagCols.map(col) :+ col("time_ms"): _*)
    mutationLock(space).synchronized {
      // the append job's tasks write straight into the bucket dirs, and
      // the job itself reports its exact output list, sizes and per-file
      // stats (writeGathering), so the append path lists nothing (the r13
      // before/after listing diff was O(live files) per append), moves
      // nothing and runs no stats pass. Crash state: written files no
      // snapshot references — invisible to readers, swept by vacuum. An
      // all-rejected batch writes no files — no commit.
      bootstrapManifest(space) // adopt a pre-manifest store
      val fresh = writeGathering(sorted, new HPath(spacePath(space)),
        Seq("bucket_day"), DirectCommitProtocol.appendPrefix())
      if (fresh.nonEmpty) {
        // the job's data schema (everything but the partition column)
        // merges into the manifest so reads never open a parquet footer
        val jobSchema = org.apache.spark.sql.types.StructType(
          good.schema.fields.filterNot(_.name == "bucket_day"))
        val (freshStats, freshDicts) =
          statsMaps(mergeStats(fresh.map(f => f.rel -> f.stats)), dictCols(jobSchema))
        // the delta path: commit cost tracks THIS JOB's buckets, not
        // the store's live-file count (r14 — manifest-list indirection)
        commitAppend(space, fresh.map(f => (f.rel, f.size)), jobSchema,
          freshStats, freshDicts)
      }
    }
    validated.where(col("__error").isNotNull)
      .select(col("__error").as("error") +: points.columns.map(col): _*)
  }

  // Mutations to one space (appends, compaction swaps, retention commits,
  // vacuum) are serialized per space: each one reads the current snapshot
  // and commits the next, so two in-process mutators would otherwise
  // re-apply against each other through the optimistic claim loop on
  // every commit. Cross-space mutations stay fully parallel; reads
  // take no lock. (On a real cluster the analog is one writer per table
  // partition — a coordinator/queue, which the facade's queued path already
  // is; this lock covers embedded multi-threaded callers.)
  private val mutationLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def mutationLock(space: String): Object =
    mutationLocks.computeIfAbsent(space, _ => new Object)

  // ---- manifest/snapshot storage -----------------------------------------
  //
  // The ONLY storage mode: every mutation commits a SNAPSHOT — a small
  // text file listing the space's live data files — and every read plans
  // from the newest committed snapshot's file list instead of a live
  // directory listing. This is the miniature of what a manifest table
  // format (Iceberg/Delta) buys at 100 TB, and the design Structured
  // Streaming's file sink uses: a commit log, not the listing, decides
  // which files are live. Compaction and retention REWIRE the manifest but
  // delete nothing, so a reader planned before a rewrite streams its entire
  // result from the files its snapshot pinned — no FAILED_READ_FILE, no
  // retry, no lock. Physical deletion is deferred to an explicit [[vacuum]]
  // with a keep-snapshots grace (Iceberg's expire-snapshots contract: a
  // reader older than the grace is the operator's trade to make). Bonus
  // surface: [[snapshots]]/[[readAt]] time travel, free once commits are
  // files. Bucket directories already on disk without a snapshot (stores
  // from releases that predate manifests) are adopted once by
  // [[bootstrapManifest]].
  //
  // The analog in the reference stack is Cassandra itself: an SSTable
  // compaction swaps the live-sstable set while in-flight reads keep their
  // handles on the obsolete files until released (the reference leans on
  // that, never solving it in app code — lib/orestes-inserter.js writes and
  // lets Cassandra own the storage lifecycle). Parquet directories have no
  // such reference counting, so the snapshot layer supplies it.
  //
  // Commit protocol, per space (r14 — the manifest-LIST tier): the
  // snapshot file `m<seq>` is a small manifest list — the live data
  // schema plus one `#seg` line per bucket day pointing at an IMMUTABLE
  // segment file holding that bucket's entry lines. A commit writes new
  // segments only for the buckets it TOUCHED and reuses every other
  // bucket's segment by reference, so commit cost is proportional to the
  // files changed, not the files live (Iceberg's snapshot → manifest-list
  // → manifests indirection; the r13 layout's one named scale ceiling —
  // every commit rewriting the full list — is gone, and snapshots in that
  // older format are refused, see [[readSnapState]]). Reads prune `#seg`
  // references by day BEFORE fetching anything, so read planning fetches
  // the snapshot plus only the in-range buckets' segments: still zero
  // listings, still zero footer reads.
  //
  // The commit POINT is an atomic claim of the `m<seq+1>` name, wrapped
  // in an optimistic re-apply loop (r14): a writer that loses the claim —
  // another graft PROCESS committed seq+1 first; the in-process mutation
  // lock cannot see it — re-reads the new current snapshot, re-applies
  // its mutation, and claims seq+2, exactly Iceberg's optimistic
  // concurrency. On local filesystems the claim is a hard link (POSIX
  // rename OVERWRITES an existing destination, so tmp+rename would let
  // the loser silently clobber the winner; link creation is
  // fail-if-exists, atomically); on HDFS-contract stores it is
  // exists-check + rename, whose rename fails when the destination
  // exists. Crash states: a `.tmp-*` body or an orphaned `g*` segment no
  // snapshot references — both invisible to resolution, both swept by
  // vacuum.
  //
  // Write jobs — appends and compaction — write each file ONCE, straight
  // into its bucket dir under a unique graft name ([[DirectCommitProtocol]]:
  // `a<nonce>-part-…` for an append, `c<gen>-part-…` for a compaction), and
  // the job reports the exact output list, so the commit protocol receives
  // it without listing the store — the write side's analog of the read
  // side's no-listing contract — and nothing is staged or renamed. This is
  // "write direct under unique keys, commit the key list", what
  // Iceberg/Delta writers and Structured Streaming's file sink do. A file
  // with a graft name is live only through a snapshot that names it: until
  // its commit it may be another process's write in flight, so
  // [[bootstrapManifest]] never adopts one and [[vacuum]] reclaims an
  // unreferenced one only past the orphan grace.

  private def manifestPath(space: String) = s"$root/.manifest/$space"

  /** Bucket day of a `bucket_day=<d>/<name>` relative path. */
  private def dayOfPath(f: String): Long =
    f.takeWhile(_ != '/').stripPrefix("bucket_day=").toLong

  /** The last-write-wins merge, in ONE place (read path + both compactors
    * — review r13): max-`__wseq` row per key survives, value desc is the
    * deterministic same-sequence tiebreak, null stamps (pre-stamp /
    * compacted rows) rank last, the stamp never leaves this method.
    * Stamp-free frames pass through untouched.
    */
  private def lwwMerged(df: DataFrame, key: Seq[Column]): DataFrame =
    if (!df.columns.contains(WseqCol)) df
    else {
      // the rank-1 window stays the right physical shape here (evaluated
      // r17): row_number + rn=1 plans a WindowGroupLimit that drops
      // superseded duplicates BEFORE the exchange, while a max-over-
      // struct aggregate falls to SortAggregate (struct buffers are not
      // hash-aggregable) with two extra sorts. The serving /read path
      // fuses the merge into its nesting aggregation instead
      // ([[readSeries]]) and never pays this window.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key: _*)
        .orderBy(col(WseqCol).desc, col("value").desc)
      df.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn", WseqCol)
    }

  /** The space's data files as (`bucket_day=<d>/<name>`, size) pairs. */
  private def listDataFiles(fs: FileSystem, dir: HPath): Seq[(String, Long)] =
    if (!isDir(fs, dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket_day="))
      .flatMap { bst =>
        fs.listStatus(bst.getPath).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => (bst.getPath.getName + "/" + st.getPath.getName, st.getLen))
      }

  /** Committed snapshot seqs, ascending — empty before the first commit
    * (a listing op: it never adopts a pre-manifest store, so such a store
    * answers "no snapshots" until its first read or mutation).
    */
  def snapshots(space: String = "default"): Seq[Long] = {
    val (fs, mdir) = fsOf(manifestPath(space))
    if (!isDir(fs, mdir)) Nil
    else fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filter(n => n.length > 1 && n.head == 'm' && n.tail.forall(_.isDigit))
      .map(_.tail.toLong).sorted
  }

  /** A nonce identifying THIS incarnation of the space's history (r15):
    * created once (through the store's snapshot claim; racers converge by
    * re-read) beside the snapshots, destroyed with them when the space is
    * wiped. CDC consumers record it so a wiped-and-RECREATED space — whose
    * new history can coincidentally reach the same snapshot seq the
    * consumer is committed at — reads as a RESET, not as "already current"
    * or a structurally-valid-but-semantically-wrong diff (the bound r14
    * drew around the same-seq rebuild edge, closed at the root). Snapshot
    * seqs alone can never carry this: they restart at 1 by design.
    */
  def storeIdentity(space: String = "default"): String = {
    val (fs, mdir) = fsOf(manifestPath(space))
    val f = new HPath(mdir, "identity")
    Graft.readSmallFile(fs, f).map(_.trim).getOrElse {
      fs.mkdirs(mdir)
      val id = java.util.UUID.randomUUID().toString
      if (claimFile(fs, f, id)) id
      else Graft.readSmallFile(fs, f).map(_.trim).getOrElse(
        throw new IllegalStateException(
          s"store identity $f vanished right after another writer claimed it"))
    }
  }

  /** Adopt a pre-manifest store: a root whose bucket directories hold data
    * files but no snapshot (written by a release that predates manifests)
    * must SEE that data — and must never let [[vacuum]] treat it as
    * orphaned (review r13: without adoption, one write + one vacuum
    * physically deleted the store's entire prior history). On the first touch of a space with
    * data files but no snapshot, commit snapshot 1 = everything on disk,
    * schema from one footer pass — the only time the store ever infers.
    * The adoption is ONE-WAY and ONE-TIME: files that land in the bucket
    * directories after snapshot 1 are not live until a commit names them
    * (vacuum reclaims them as orphans). Only files a pre-manifest release
    * wrote are adopted: a graft-named file ([[DirectCommitProtocol.wrote]])
    * is live only through a snapshot, so a second process opening a fresh
    * space never adopts the first one's append in flight. Caller holds the
    * mutation lock; every mutation calls this, and reads take the lock for
    * exactly this one-time adoption.
    */
  private def bootstrapManifest(space: String): Unit = {
    if (snapshots(space).nonEmpty) return
    val (fs, dir) = fsOf(spacePath(space))
    val existing = listDataFiles(fs, dir)
      .filterNot(f => DirectCommitProtocol.wrote(f._1.drop(f._1.indexOf('/') + 1)))
    if (existing.isEmpty) return
    // the one footer pass: its schema plans both the stats scan (zone
    // maps + dictionaries for the whole store, once) and the commit
    val schema = mergeDataSchema(None, footerDataSchema(space, existing.map(_._1)))
    val (zones, dicts) = fileStats(space, existing, schema)
    commitManifest(space)(_ => Manifest(existing, Some(schema), zones, dicts))
  }

  /** Footer-inferred DATA schema of `files` — with the partition column
    * stripped: files spanning several bucket dirs make Spark's inference
    * discover `bucket_day` from the directory names, and a partition
    * column inside the data schema would collide with the relation's own.
    */
  private def footerDataSchema(space: String, files: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    val s = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => s"${spacePath(space)}/$f"): _*).schema
    org.apache.spark.sql.types.StructType(
      s.fields.filterNot(_.name == "bucket_day"))
  }

  private def ensureManifest(space: String): Unit =
    mutationLock(space).synchronized { bootstrapManifest(space) }

  /** One committed snapshot: live files with their sizes, plus the live
    * DATA schema (tags + time_ms + value [+ __wseq], no partition column)
    * as `DataType.json`. Sizes + schema are what make reads METADATA-FREE:
    * the scan relation is built from this object alone — no listing, no
    * stat calls, no footer reads (see [[tableRaw]]).
    */
  private[tsdb] case class Manifest(files: Seq[(String, Long)],
                                    schemaJson: Option[String],
                                    stats: Map[String, (Long, Long)] = Map.empty,
                                    dicts: Map[String, Map[String, Seq[String]]] =
                                      Map.empty) {
    def paths: Seq[String] = files.map(_._1)
  }

  /** One parsed segment-file entry line: (path, size), optional zone
    * map, optional tag dictionary.
    */
  private type Entry =
    ((String, Long), Option[(String, (Long, Long))],
      Option[(String, Map[String, Seq[String]])])

  private def parseEntry(l: String): Entry = l.split('\t') match {
    // v4 line: v3 + the file's base64(JSON) per-tag value dictionary
    case Array(p, sz, mn, mx, d64) =>
      ((p, sz.toLong), Some(p -> (mn.toLong, mx.toLong)),
        Some(p -> decodeDict(d64)))
    // v3 line: path, size, and the file's [min,max] time_ms zone map
    case Array(p, sz, mn, mx) =>
      ((p, sz.toLong), Some(p -> (mn.toLong, mx.toLong)), None)
    case Array(p, sz) => ((p, sz.toLong), None, None)
    case _ => throw new IllegalStateException(s"malformed manifest entry line: $l")
  }

  private def manifestOfLines(schema: Option[String],
                              lines: Seq[String]): Manifest = {
    val entries = lines.map(parseEntry)
    Manifest(entries.map(_._1), schema.filter(_.nonEmpty),
      entries.flatMap(_._2).toMap, entries.flatMap(_._3).toMap)
  }

  /** One bucket's segment reference inside a v5 snapshot: the manifest
    * list's unit of reuse. `nFiles`/`bytes` ride in the reference so
    * planning questions ("any live files at all?") never fetch a segment.
    */
  private case class SegRef(day: Long, name: String, nFiles: Int, bytes: Long)

  /** A snapshot as stored: seq, schema header, segment references. */
  private case class SnapState(seq: Long, schemaJson: Option[String],
                               segs: Seq[SegRef])

  private def openLines(fs: FileSystem, p: HPath, what: String): List[String] = {
    // lock-free readers can race a vacuum expiring this snapshot: surface
    // the designed, actionable error, not a raw missing-file stack
    val in =
      try fs.open(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"$what no longer exists (expired by a concurrent " +
              "vacuum); re-resolve with snapshots()")
      }
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The ONE parser of snapshot bodies, so every reader and mutator
    * (vacuum included) fails here, before it acts, on a body it cannot
    * read. Entry lines in the snapshot itself are the inline format of
    * releases before r14 (v1-v4), which this store no longer reads.
    */
  private def readSnapState(fs: FileSystem, mdir: HPath, seq: Long): SnapState = {
    val file = new HPath(mdir, s"m$seq")
    val lines = openLines(fs, file, s"snapshot $seq")
    if (lines.exists(!_.startsWith("#")))
      throw new IllegalStateException(
        s"snapshot $file uses the inline manifest format of releases " +
          "before r14, which is no longer read. Migrate the store with any " +
          "release from r14 to 7c37b01: run one append to the space, then " +
          "vacuum(keepSnapshots = 1)")
    val schema = lines.find(_.startsWith("#v2 ")).map(_.stripPrefix("#v2 "))
      .filter(_.nonEmpty)
    val segs = lines.filter(_.startsWith("#seg\t")).map { l =>
      l.stripPrefix("#seg\t").split('\t') match {
        case Array(d, n, nf, b) => SegRef(d.toLong, n, nf.toInt, b.toLong)
        case _ => throw new IllegalStateException(s"malformed #seg line: $l")
      }
    }
    if (segs.nonEmpty && schema.isEmpty)
      throw new IllegalStateException(s"snapshot $file has segments but no schema")
    SnapState(seq, schema, segs)
  }

  private def readSegmentLines(fs: FileSystem, mdir: HPath,
                               name: String): List[String] =
    openLines(fs, new HPath(mdir, name), s"manifest segment $name")

  private def readManifest(fs: FileSystem, mdir: HPath, seq: Long): Manifest = {
    val st = readSnapState(fs, mdir, seq)
    manifestOfLines(st.schemaJson,
      st.segs.sortBy(_.day).flatMap(s => readSegmentLines(fs, mdir, s.name)))
  }

  private def encodeDict(d: Map[String, Seq[String]]): String = {
    val node = jsonMapper.createObjectNode()
    d.toSeq.sortBy(_._1).foreach { case (c, vs) =>
      val arr = node.putArray(c)
      vs.foreach(arr.add)
    }
    java.util.Base64.getEncoder.encodeToString(
      jsonMapper.writeValueAsBytes(node))
  }

  private def decodeDict(d64: String): Map[String, Seq[String]] = {
    val node = jsonMapper.readTree(java.util.Base64.getDecoder.decode(d64))
    val it = node.fields()
    val b = Map.newBuilder[String, Seq[String]]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> (0 until e.getValue.size())
        .map(i => e.getValue.get(i).asText())
    }
    b.result()
  }

  /** The manifest of the newest commit. */
  private def liveManifest(space: String): Manifest = {
    val (fs, mdir) = fsOf(manifestPath(space))
    snapshots(space).lastOption match {
      case Some(s) => readManifest(fs, mdir, s)
      case None => Manifest(Nil, None)
    }
  }

  /** Serialize one live file's manifest entry line. Stats + tag
    * dictionaries ride the line (v3/v4 columns), so entries pruned with
    * their file can never leave a stale zone map or dictionary behind.
    */
  private def entryLine(p: String, sz: Long,
                        stats: Map[String, (Long, Long)],
                        dicts: Map[String, Map[String, Seq[String]]]): String =
    (stats.get(p), dicts.get(p).filter(_.nonEmpty)) match {
      case (Some((mn, mx)), Some(d)) => s"$p\t$sz\t$mn\t$mx\t${encodeDict(d)}"
      case (Some((mn, mx)), None) => s"$p\t$sz\t$mn\t$mx"
      case (None, Some(_)) =>
        // the v4 line format hangs the dictionary off the zone-map
        // columns; a dict-without-stats entry would be DROPPED silently —
        // fail the commit that produced the inconsistent maps instead
        // (statsMaps always emits both together)
        throw new IllegalStateException(
          s"manifest commit: $p has a tag dictionary but no zone map " +
            "— stats and dicts must be produced together (statsMaps)")
      case _ => s"$p\t$sz"
    }

  /** The configured (UNresolved) claim primitive — the CDC consumers
    * ([[graft.streaming.CdcStream]], [[graft.streaming.CdcIndexSync]])
    * carry this store's setting to THEIR marker directories and resolve
    * it against the filesystem actually holding the marker (r16, VERDICT
    * r15 #3): an index or consumer-state dir on an unknown object store
    * refuses loudly exactly like the snapshot claim, instead of riding a
    * bare `fs.create(dst, false)` whose atomicity nobody verified. */
  private[graft] def configuredClaim: String = commitPrimitive

  /** The snapshot-claim primitive this store resolved to — `auto` picks
    * by filesystem scheme and REFUSES schemes with no known-atomic claim
    * rather than silently racing (VERDICT r14 #2: the old exists+rename
    * fallback is TOCTOU on object stores whose rename is copy+delete —
    * two processes on S3A could both claim `m<seq+1>`). Resolution is
    * lazy so the refusal fires at the first COMMIT, with a message naming
    * the config key; read-only use of a store on any filesystem stays
    * fine. The resolution table and the claim itself are the shared
    * toolkit ([[Graft.resolveClaim]]/[[Graft.claimAt]]) the CDC markers
    * ride too.
    */
  private lazy val resolvedClaim: String = {
    val (fs0, _) = fsOf(manifestPath("default"))
    Graft.resolveClaim(fs0, commitPrimitive, "snapshot commit")
  }

  private def claimFile(fs0: FileSystem, dst: HPath, body: String): Boolean =
    Graft.claimAt(fs0, dst, body, resolvedClaim)

  /** Test seam: runs once per commit attempt, after the attempt read the
    * current snapshot and before it claims the next — the window where a
    * concurrent committer (another process) can win the race. Specs
    * inject a competing commit here to exercise the re-apply loop
    * deterministically.
    */
  private[graft] var commitRaceHook: () => Unit = () => ()

  /** One bucket day's contribution to the snapshot being committed:
    * either an existing segment reused BY REFERENCE (never fetched, never
    * rewritten — the manifest-list indirection's whole point) or a fresh
    * serialized body to write as a new segment.
    */
  private sealed trait DayPlan { def day: Long }
  private case class ReuseSeg(ref: SegRef) extends DayPlan { def day: Long = ref.day }
  private case class FreshSeg(day: Long, lines: Seq[String]) extends DayPlan

  /** Commit one snapshot under optimistic concurrency: `attempt` reads
    * the current state and returns (new schema header, one [[DayPlan]]
    * per live bucket day). Fresh bodies become new uniquely-named segment
    * files; reused refs enter the snapshot verbatim; then the writer
    * CLAIMS `m<seq+1>`. A lost claim (another PROCESS committed first —
    * the in-process mutation lock cannot serialize that) deletes this
    * attempt's orphan segments and re-applies `attempt` against the new
    * current state: Iceberg's optimistic re-apply loop. Caller holds the
    * space's mutation lock.
    */
  private def commitSnapshot(space: String)
      (attempt: SnapState => (Option[String], Seq[DayPlan])): Long = {
    val (fs, mdir) = fsOf(manifestPath(space))
    fs.mkdirs(mdir)
    var tries = 0
    while (true) {
      val cur = snapshots(space).lastOption
      val st = cur.map(readSnapState(fs, mdir, _))
        .getOrElse(SnapState(0L, None, Nil))
      commitRaceHook()
      val (schema, plans) = attempt(st)
      val next = st.seq + 1
      val written = scala.collection.mutable.ArrayBuffer.empty[HPath]
      val refs = plans.sortBy(_.day).flatMap {
        case ReuseSeg(ref) => Some(ref)
        case FreshSeg(_, lines) if lines.isEmpty => None // emptied bucket
        case FreshSeg(day, lines) =>
          // segment names are unique per attempt (seq + nonce), so
          // concurrent committers never collide on them — only the
          // snapshot name is contended
          val name = s"g$next-$day-${Graft.nonce()}"
          val sp = new HPath(mdir, name)
          Graft.writeSmallFile(fs, sp, lines.sorted.mkString("\n"))
          written += sp
          Some(SegRef(day, name, lines.size,
            lines.map(l => parseEntry(l)._1._2).sum))
      }
      val snapBody = (schema.map("#v2 " + _).toSeq ++
        refs.map(r => s"#seg\t${r.day}\t${r.name}\t${r.nFiles}\t${r.bytes}"))
        .mkString("\n")
      if (claimFile(fs, new HPath(mdir, s"m$next"), snapBody)) return next
      // lost the claim: retire this attempt's segments (bounded garbage —
      // vacuum would sweep them anyway) and re-apply on the fresh state
      written.foreach(p =>
        try fs.delete(p, false) catch { case _: java.io.IOException => () })
      tries += 1
      if (tries >= MaxCommitRetries) throw new java.io.IOException(
        s"manifest commit for $space lost $tries consecutive claim races " +
          "— giving up (is a runaway committer looping on this space?)")
      Thread.sleep(5L + scala.util.Random.nextInt(20))
    }
    -1L // unreachable
  }

  /** Serialize a manifest's entries into per-day segment bodies. */
  private def dayLines(m: Manifest): Map[Long, Seq[String]] =
    m.files.distinct.groupBy(f => dayOfPath(f._1)).map { case (day, fl) =>
      day -> fl.map { case (p, sz) => entryLine(p, sz, m.stats, m.dicts) }
    }

  /** Commit snapshot seq+1 = update(current) — the FULL-manifest path
    * (bootstrap, compaction, retention: mutations that need the whole
    * live list anyway). Reads every current segment once; a day whose
    * serialized body is unchanged reuses its segment file by content
    * equality, so even this path writes only the touched buckets. Caller
    * holds the space's mutation lock. Returns the new seq.
    */
  private def commitManifest(space: String)
      (update: Manifest => Manifest): Long =
    commitSnapshot(space) { st =>
      val (fs, mdir) = fsOf(manifestPath(space))
      val segLines = st.segs.map(s => s -> readSegmentLines(fs, mdir, s.name))
      val curM = manifestOfLines(st.schemaJson,
        segLines.sortBy(_._1.day).flatMap(_._2))
      val curBodies = segLines.map { case (s, lines) =>
        s.day -> (s, lines.sorted.mkString("\n")) }.toMap
      val m = update(curM)
      val plans = dayLines(m).toSeq.map { case (day, lines) =>
        curBodies.get(day) match {
          case Some((ref, body)) if body == lines.sorted.mkString("\n") =>
            ReuseSeg(ref)
          case _ => FreshSeg(day, lines)
        }
      }
      (m.schemaJson, plans)
    }

  /** Append-only commit (the write() hot path): touches ONLY the bucket
    * days the fresh files land in — reads those days' segments, writes
    * their replacements, and reuses every other segment BY REFERENCE
    * without ever fetching it. This is what makes commit cost
    * proportional to the files CHANGED: a steady-state ingest into
    * today's bucket commits in O(today's files), however many millions of
    * files (and bucket segments) the store holds.
    */
  private def commitAppend(space: String, fresh: Seq[(String, Long)],
                           jobSchema: org.apache.spark.sql.types.StructType,
                           freshStats: Map[String, (Long, Long)],
                           freshDicts: Map[String, Map[String, Seq[String]]])
      : Long =
    commitSnapshot(space) { st =>
      val (fs, mdir) = fsOf(manifestPath(space))
      val freshByDay = fresh.groupBy(f => dayOfPath(f._1))
      val freshLines = freshByDay.map { case (day, fl) =>
        day -> fl.map { case (p, sz) => entryLine(p, sz, freshStats, freshDicts) }
      }
      val plans: Seq[DayPlan] = st.segs.map { s =>
        freshLines.get(s.day) match {
          case None => ReuseSeg(s) // untouched bucket: never fetched
          case Some(add) =>
            FreshSeg(s.day, readSegmentLines(fs, mdir, s.name) ++ add)
        }
      } ++ freshLines.collect {
        case (day, add) if !st.segs.exists(_.day == day) =>
          FreshSeg(day, add)
      }
      (Some(mergeDataSchema(st.schemaJson, jobSchema)), plans)
    }

  /** The columns whose per-file dictionaries a commit records: every
    * STRING column of the data schema but the write stamp. Per (file,
    * column) there are three cases: at most DictMax values is the
    * dictionary, stored sorted so entry lines stay byte-identical; over
    * the cap records nothing (an unknown set, never prunes); all-null,
    * including a column the file lacks, records the EMPTY dictionary,
    * which prunes any positive term/prefix on the column — the
    * manifest-level analog of parquet's row-group dictionary filtering,
    * one level earlier. */
  private def dictCols(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.filter(f => f.dataType == org.apache.spark.sql.types.StringType &&
      f.name != WseqCol).map(_.name).toSeq

  /** Write `df` as parquet into `out` (partitioned by `partitionBy`) in ONE
    * Spark job whose tasks write every file at its final, graft-named path
    * (`<prefix>-part-…`, [[DirectCommitProtocol]]) and also gather the stats a
    * commit records — per-file `[min, max]` `time_ms` zone maps and the
    * [[dictCols]] dictionaries, at commit time so reads never open a footer
    * (Iceberg and Delta collect per-file column stats at write the same
    * way). At 100 TB these are what turn a narrow-window or tag-filtered
    * read from "open every file the bucket holds" into "open the files
    * that can match". Returns every committed file — its path relative
    * from `bucket_day=`, i.e. its manifest path, size and stats — so the
    * caller neither lists `out` nor reads a file back. The
    * stats are of the rows exactly as the tasks wrote them: a second pass
    * over a re-evaluated non-deterministic frame could record stats that
    * do not cover a file, and a wrong dictionary prunes live rows. Each
    * task's state is memory-bounded ([[Graft.StatsAcc]]: at most
    * [[Graft.DictMax]]+1 values per (file, tag)), so a genuinely
    * high-cardinality tag never buffers its values while the mutation lock
    * is held.
    */
  private def writeGathering(df: DataFrame, out: HPath, partitionBy: Seq[String],
                             prefix: String): Seq[WriteStatsTracker.WrittenFile] = {
    val data = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f => partitionBy.contains(f.name)))
    val tracker = new WriteStatsTracker(data.fieldNames.toSeq, dictCols(data),
      org.apache.spark.sql.GraftSqlBridge.taskHadoopConf(spark))
    org.apache.spark.sql.GraftSqlBridge.writeParquet(df, out.toString,
      partitionBy, new DirectCommitProtocol(out.toString, prefix), Seq(tracker))
    tracker.written
  }

  /** The same stats as [[writeGathering]] for files this store did NOT
    * write — a pre-manifest store's files, adopted once by
    * [[bootstrapManifest]]. ONE no-shuffle Spark job: the files are read
    * as they are through [[ManifestRelation.frame]] with the data schema
    * the caller already holds (`schemaJson`, normalized by
    * [[mergeDataSchema]]), so the pass lists no directory and reads no
    * footer to plan. Each task folds its rows into per-file state
    * ([[Graft.foldStats]]) and the driver merges the per-task partials
    * ([[Graft.mergeStats]]) — a file split across tasks yields one partial
    * per task.
    */
  private def fileStats(space: String, files: Seq[(String, Long)],
                        schemaJson: String)
      : (Map[String, (Long, Long)], Map[String, Map[String, Seq[String]]]) = {
    if (files.isEmpty) return (Map.empty, Map.empty)
    val tagCols = dictCols(org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
    // tags are arbitrary user strings — quote the identifier (backticks
    // double inside backticks)
    def bq(s: String) = "`" + s.replace("`", "``") + "`"
    val scan = ManifestRelation.frame(spark, spacePath(space), files, schemaJson)
      .select(input_file_name() +: col("time_ms") +: tagCols.map(c => col(bq(c))): _*)
    val partials = scan.rdd.mapPartitions(foldStats(_, tagCols)).collect()
    // input_file_name is the file's URI; the manifest keys by the path
    // relative to the space directory
    def relOf(uri: String): String = {
      val f = new java.net.URI(uri).getPath
      val i = f.lastIndexOf("bucket_day=")
      require(i >= 0, s"manifest stats: unexpected file path $f")
      f.substring(i)
    }
    statsMaps(mergeStats(partials).map { case (f, st) => relOf(f) -> st }, tagCols)
  }

  /** Union-merge two data schemas by field name, old field order first —
    * the same compatibility contract parquet's mergeSchema enforces, applied
    * at COMMIT time so reads never open a footer. A same-name type conflict
    * is the same error mergeSchema would raise at read; raising it at the
    * write that introduces it is strictly earlier.
    */
  private def mergeDataSchema(prev: Option[String],
                              add: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val base = prev.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(new StructType())
    val merged = add.fields.foldLeft(base) { (acc, f) =>
      acc.fields.find(_.name == f.name) match {
        case None => acc.add(f.name, f.dataType, nullable = true)
        case Some(e) if e.dataType == f.dataType => acc
        case Some(e) => throw new IllegalArgumentException(
          s"tag '${f.name}' written as ${f.dataType.simpleString} but the " +
            s"store holds ${e.dataType.simpleString} — incompatible schemas " +
            "(parquet mergeSchema would fail the read; failing the write " +
            "that introduces the conflict instead)")
      }
    }
    merged.json
  }

  /** Physically delete files no snapshot in the keep window references, and
    * expire the manifests older than the window — the store's deferred
    * deletion (Iceberg's expire-snapshots). `keepSnapshots` is the reader
    * grace: a reader pinned to an expired snapshot is the operator's trade,
    * and its default is [[Graft.DefaultVacuumKeep]] — the ONE default the
    * config layer also uses (review r15: a shallow API default here
    * silently destroyed external CDC consumers' diff bases while the
    * config default was deepened for exactly that reason).
    * Returns the deleted data-file paths (relative).
    */
  def vacuum(space: String = "default",
             keepSnapshots: Int = Graft.DefaultVacuumKeep,
             orphanGraceMs: Long = Graft.DefaultOrphanGraceMs): Seq[String] = {
    flushQueued(space) // queued-but-unlanded points land (and commit) first
    mutationLock(space).synchronized {
      val (fs, dir) = fsOf(spacePath(space))
      val (mfs, mdir) = fsOf(manifestPath(space))
      bootstrapManifest(space) // a pre-manifest store's files are LIVE, not orphans
      val seqs = snapshots(space)
      if (seqs.isEmpty) return Nil
      val kept = seqs.takeRight(math.max(1, keepSnapshots))
      val expired = seqs.diff(kept)
      // Two deletion classes (Iceberg's split, for the same reason):
      // a file an EXPIRED snapshot owned is committed history — safe to
      // reclaim immediately; a file NO retained snapshot references may be
      // a crash leftover OR an in-flight commit from another process (its
      // data/segments land BEFORE it claims m<seq+1>, and the in-process
      // mutation lock cannot see that writer), so true orphans are only
      // swept once older than `orphanGraceMs` (code review r14).
      val aged: org.apache.hadoop.fs.FileStatus => Boolean =
        st => st.getModificationTime <
          System.currentTimeMillis() - orphanGraceMs
      def agedFile(f: HPath): Boolean = aged(fs.getFileStatus(f))
      val referenced = kept.flatMap(readManifest(mfs, mdir, _).paths).toSet
      val expiredOwned = expired.flatMap(readManifest(mfs, mdir, _).paths)
        .toSet.diff(referenced)
      val doomed = listDataFiles(fs, dir).map(_._1).filterNot(referenced)
        .filter(f => expiredOwned(f) || agedFile(new HPath(dir, f)))
      doomed.foreach { f =>
        if (!fs.delete(new HPath(dir, f), false))
          throw new java.io.IOException(s"vacuum: delete $f failed")
      }
      // drop bucket dirs vacuum emptied (retention's physical half), and
      // every `_`-prefixed dir past the grace: no snapshot names a file
      // under one (Spark's readers skip them too), so any such dir is a
      // crashed job's leftover — an older build's staging dir or a Hadoop
      // `_temporary` — or, while young, another process's job in flight.
      // A bucket dir THIS sweep's expired-file deletions emptied goes now
      // (deleting its children refreshed its mtime, so age-gating it would
      // defer retention's physical half forever); any other empty bucket
      // dir waits out the grace.
      val emptiedByExpired = doomed.filter(expiredOwned)
        .map(_.takeWhile(_ != '/')).toSet
      if (isDir(fs, dir))
        fs.listStatus(dir)
          .filter(st => st.isDirectory &&
            ((st.getPath.getName.startsWith("bucket_day=") &&
              fs.listStatus(st.getPath).isEmpty &&
              (aged(st) || emptiedByExpired(st.getPath.getName))) ||
             (st.getPath.getName.startsWith("_") && aged(st))))
          .foreach(st => fs.delete(st.getPath, true))
      // crashed-commit tmps (aged only: a fresh .tmp-m* is a commit body
      // another process is about to claim) and expired manifests —
      // expired snapshots' segment lists are read BEFORE their m files go
      val keptSegs = kept.flatMap(s =>
        readSnapState(mfs, mdir, s).segs.map(_.name)).toSet
      val expiredSegs = expired.flatMap(s =>
        readSnapState(mfs, mdir, s).segs.map(_.name)).toSet.diff(keptSegs)
      mfs.listStatus(mdir)
        .filter(st => st.getPath.getName.startsWith(".tmp-") && aged(st))
        .foreach(st => mfs.delete(st.getPath, false))
      expired.foreach(s => mfs.delete(new HPath(mdir, s"m$s"), false))
      // segment GC, same split: an expired snapshot's private segment is
      // reclaimable now; a segment no retained snapshot EVER referenced
      // (lost commit claim / crash) only past the grace — it may belong
      // to a commit that hasn't claimed its snapshot yet
      mfs.listStatus(mdir)
        .filter(st => st.getPath.getName.startsWith("g") &&
          !keptSegs(st.getPath.getName) &&
          (expiredSegs(st.getPath.getName) || aged(st)))
        .foreach(st => mfs.delete(st.getPath, false))
      // drop pinned sqlAt views whose snapshot just expired: a stale view
      // would bypass readAt's loud check and fail mid-scan on vacuumed
      // files (review r13)
      if (expired.nonEmpty) {
        val prefix = "graft_" + space.replaceAll("[^A-Za-z0-9_]", "_") + "_at_"
        val gone = expired.map(s => s"$prefix$s").toSet
        sqlViewsOwned.synchronized {
          sqlViewsOwned.filter(gone).toSeq.foreach { v =>
            spark.catalog.dropTempView(v)
            sqlViewsOwned -= v
          }
        }
      }
      doomed
    }
  }

  // ---- coalesced (queued) write path -------------------------------------
  //
  // The reference absorbs small /write batches through in-process Cassandra/
  // ES clients that group-commit internally (a memtable + commitlog ack,
  // lib/orestes-inserter.js); graft's direct write() pays a full Spark job
  // per call (~0.25 s fixed overhead), so a perf-test.js-shaped writer (200
  // sequential 500-point POSTs) is overhead-dominated. writeQueued() is the
  // facade's group commit: validate driver-side (same per-point rules as
  // write(), same error strings), stamp each batch with a monotonic write
  // sequence, buffer the normalized JSON lines, and land EVERYTHING in one
  // partitioned-parquet job at flush time. Flush triggers: the queue
  // reaching `maxQueuedPoints` (bounds driver memory AND the crash-loss
  // window), any read of the space (read-your-writes — table() flushes
  // first), compaction/retention, or an explicit flushQueued().
  //
  // Contract vs the reference: "accepted" = validated + queued (the
  // reference's ack happens at the memtable, before durable SSTables, too);
  // durable = flushed. Per-row `__wseq` stamps keep the last-write-wins
  // order BETWEEN queued batches intact even though they share one job —
  // and stay correctly ordered against direct write() calls, whose wall-ms
  // stamp the sequence generator never falls behind.

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val queueLock = new Object
  /** One space's queued points: each accepted point's normalized epoch-ms
    * rides with its JSON line, so a flush can hand the writer its lines in
    * time order, and the JSON kinds seen per field ([[Graft.jsonKind]]
    * bits) let it skip schema inference (see flushLocked). */
  private final class Queued {
    val lines = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val kinds = scala.collection.mutable.Map.empty[String, Int]
    def add(ls: Iterable[(Long, String)], ks: collection.Map[String, Int]): Unit = {
      lines ++= ls
      ks.foreach { case (f, k) => kinds(f) = kinds.getOrElse(f, 0) | k }
    }
  }
  private val queued = scala.collection.mutable.Map.empty[String, Queued]
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)
  // ONE strictly-monotonic generator stamps queued batches AND direct
  // write() defaults (anchored to wall-clock so stamps stay comparable
  // across instances/restarts): a later call always gets a later stamp, so
  // last-write-wins order can never invert between the two paths — a
  // wall-clock default on write() could tie with (or trail) a queued
  // batch's stamp issued in the same millisecond (code review r11)
  private def nextSeq(): Long =
    seqGen.updateAndGet(p => math.max(p + 1, System.currentTimeMillis()))

  /** Queue one client batch of JSON points (the facade's /write body
    * elements). Validates driver-side with the same rules and error strings
    * as [[write]] and returns the rejected points as JSON objects
    * (`{"error": msg, ...point fields}`) immediately — no Spark job runs
    * until a flush. The `time` field is normalized to epoch millis at
    * queue time (computed exactly as the Spark path computes it, UTC
    * session zone), so a flushed row can never fail the engine-side parse.
    */
  def writeQueued(points: Seq[com.fasterxml.jackson.databind.JsonNode],
                  space: String = "default"): Seq[String] = {
    val (errors, g, kinds) = normalizeBatch(points)
    if (g.nonEmpty) queueLock.synchronized {
      queued.getOrElseUpdate(space, new Queued).add(g, kinds)
      if (queued.valuesIterator.map(_.lines.size).sum >= maxQueuedPoints)
        flushLocked(null)
    }
    errors
  }

  /** Driver-side validation + normalization shared by the queued and
    * continuous write paths: per-point errors (as JSON objects, the
    * reference's shape) and the accepted points as (epoch-ms, normalized
    * JSON line) pairs — `time` rewritten to those millis, one monotonic
    * `__wseq` stamp for the batch — ready for either the in-memory queue or
    * a spool file, and the JSON kinds each field of those lines showed.
    */
  private def normalizeBatch(points: Seq[com.fasterxml.jackson.databind.JsonNode])
      : (Seq[String], Seq[(Long, String)], collection.Map[String, Int]) = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val seq = nextSeq()
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val errors = Seq.newBuilder[String]
    val good = Seq.newBuilder[(Long, String)]
    val kinds = scala.collection.mutable.Map.empty[String, Int]
    points.foreach { p =>
      validatePoint(p, zone) match {
        case Left(err) =>
          val en = jsonMapper.createObjectNode()
          // point fields first, the validation error LAST: a point that
          // itself carries an "error" field must not mask the verdict
          if (p != null && p.isObject) en.setAll(p.asInstanceOf[ObjectNode])
          en.put("error", err)
          errors += en.toString
        case Right(ms) =>
          val on = p.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
            .asInstanceOf[ObjectNode]
          on.put("time", ms)
          on.put(WseqCol, seq)
          addKinds(kinds, on)
          good += ((ms, on.toString))
      }
    }
    (errors.result(), good.result(), kinds)
  }

  /** Land queued points (all spaces when `space` is null) in one flush per
    * space. A steady-state flush is ONE Spark job: the write, whose tasks
    * also gather the manifest stats ([[writeGathering]]). JSON schema
    * inference adds a second job only when the queued fields' types are
    * not already known ([[knownSchema]]): a field the store does not hold
    * yet (so the first flush into a new space infers), a field only ever
    * null, a big or non-finite number, a nested value, mixed kinds, or a
    * type that conflicts with the store's — which inference then types as
    * the batch's own, and the commit refuses ([[mergeDataSchema]]).
    *
    * The lines reach the writer in time order, so each write task holds a
    * contiguous bucket range and a flush writes at most
    * `buckets + tasks - 1` files (arrival order put every bucket in every
    * task: `buckets × tasks`). The order is invisible to last-write-wins:
    * every line carries its batch's `__wseq`, and the merge keeps the max
    * stamp per (series, time), value desc within one batch, whatever order
    * the rows land in. Safe to call when nothing is queued (no-op, no
    * job). */
  def flushQueued(space: String = null): Unit =
    queueLock.synchronized { flushLocked(space) }

  private def flushLocked(space: String): Unit = {
    val spaces = if (space == null) queued.keys.toSeq else Seq(space)
    spaces.foreach { sp =>
      queued.remove(sp).filter(_.lines.nonEmpty).foreach { q =>
        // sorted on the epoch-ms: bucket_day is monotone in time and the
        // local scan slices its rows into contiguous equal ranges, so each
        // write task opens one file per bucket of ITS range only — no
        // shuffle, no extra job
        val ds = spark.createDataset(q.lines.sortBy(_._1).map(_._2).toSeq)(
          org.apache.spark.sql.Encoders.STRING)
        // rows are valid by construction (time already numeric ms, value and
        // tags validated at queue time), so the returned error frame is
        // empty and intentionally not executed.
        // A FAILED flush must re-queue: the points were acked, and dropping
        // them on a transient job failure would be loss without a crash
        // (code review r11) — the queue is restored and the error surfaces
        // to the caller, whose retry (or the next read/flush) tries again.
        try {
          val reader = knownSchema(sp, q.kinds).fold(spark.read)(spark.read.schema)
          write(reader.json(ds), sp)
        } catch {
          case e: Throwable =>
            queued.get(sp) match {
              case Some(later) => // writers can't race us (lock held)
                later.lines.prependAll(q.lines)
                later.add(Nil, q.kinds)
              case None => queued.put(sp, q)
            }
            throw e
        }
      }
    }
  }

  /** The schema a flush hands `spark.read.json` instead of inferring one:
    * exactly the schema inference would give the queued lines
    * ([[Graft.inferredJsonSchema]] of their fields' kinds), and only when
    * every tag in it is already a store column of the same type. Any other
    * case infers — a wrong guess would be silent: under an explicit
    * schema a JSON string in a `BIGINT` column reads as null and a JSON
    * number in a `STRING` column as its text, where inference gives the
    * batch its own type and [[mergeDataSchema]] refuses the write. */
  private def knownSchema(space: String, kinds: collection.Map[String, Int])
      : Option[org.apache.spark.sql.types.StructType] =
    inferredJsonSchema(kinds).filter { batch =>
      val (fs, mdir) = fsOf(manifestPath(space))
      // a snapshot a concurrent vacuum just expired reads as unknown:
      // inference is always a correct answer
      val store = scala.util.Try(snapshots(space).lastOption
        .flatMap(readSnapState(fs, mdir, _).schemaJson)).toOption.flatten
        .map(org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      store.exists(st => batch.fields.forall(f =>
        f.name == "time" || f.name == "value" || f.name == WseqCol ||
          st.fields.exists(c => c.name == f.name && c.dataType == f.dataType)))
    }

  private def table(space: String, startMs: Long = Long.MinValue,
                    endMs: Long = Long.MaxValue,
                    pinned: Option[Long] = None): Option[PointsTable] =
    tableRaw(space, startMs, endMs, pinned).map { case (df, tags) =>
      // last-write-wins merge-on-read: the reference upserts on the
      // Cassandra primary key (see write()); here the max-writeSeq row per
      // (series, time) survives — lwwMerged, shared with both compactors.
      // Stores without the stamp (pre-r6 layouts adopted by
      // bootstrapManifest) skip the merge.
      val merged = lwwMerged(df, (tags :+ "time_ms").map(col))
      PointsTable(merged.withColumn("ts", timestamp_millis(col("time_ms"))),
        "ts", "value", tags)
    }

  /** [[table]] BEFORE the last-write-wins merge: the pruned, time-bounded
    * frame (tags + time_ms + value, plus `__wseq` on stamped stores) and
    * the tag column names. Serving endpoints whose aggregation can FUSE
    * the merge (one shuffle instead of two — [[readSeries]]) start here;
    * everything else goes through [[table]]'s merged view. */
  private def tableRaw(space: String, startMs: Long = Long.MinValue,
                    endMs: Long = Long.MaxValue,
                    pinned: Option[Long] = None): Option[(DataFrame, Seq[String])] = {
    // a pinned (time-travel) read must not flush: it reads history, and a
    // flush would land queued points and commit a NEWER snapshot
    if (pinned.isEmpty) flushQueued(space)
    val path = spacePath(space)
    val g = granularityOf(space)
    // floor-division so pre-1970 timestamps bucket into the same (negative)
    // bucket_day the writer produced — truncate-toward-zero would prune
    // those directories and silently hide the data
    def bucketOfMs(ms: Long) =
      Math.floorDiv(Math.floorDiv(ms, Det.MsInDay), g.toLong) * g
    // plan from the snapshot — never a directory listing, so rewrites
    // can't race this read. Since r14 the snapshot is a manifest LIST:
    // day pruning happens on the `#seg` references BEFORE anything else
    // is fetched, so read planning costs the snapshot GET plus only the
    // in-range buckets' segment GETs — at 100 TB a narrow-window read
    // plans from a few KB of metadata however many million files the
    // store holds. Sizes + the data schema ride in the metadata, so the
    // scan relation is built with ZERO listing/stat/footer calls
    // (ManifestRelation).
    val (mfs, mdir) = fsOf(manifestPath(space))
    def stateOf(at: Option[Long]): Option[SnapState] =
      at.orElse(snapshots(space).lastOption)
        .map(readSnapState(mfs, mdir, _))
    val st0 = stateOf(pinned)
    val st =
      if (pinned.isDefined) st0
      else st0 match {
        case Some(s) if s.segs.nonEmpty => st0
        case _ => ensureManifest(space); stateOf(None)
      }
    val total = st.map(_.segs.map(_.nFiles.toLong).sum).getOrElse(0L)
    if (total == 0) return None
    val snap = st.get
    val lo = bucketOfMs(startMs)
    val hi = bucketOfMs(math.max(endMs - 1, startMs))
    val inLines = snap.segs.filter(r => r.day >= lo && r.day <= hi)
      .sortBy(_.day)
      .flatMap(r => readSegmentLines(mfs, mdir, r.name))
    val m = manifestOfLines(snap.schemaJson, inLines)
    val sj = snap.schemaJson.get // readSnapState: segments carry a schema
    val raw =
      if (m.files.isEmpty) {
        // no file can match: the schema rides in the manifest, so an
        // empty frame costs O(1) — never a relation over the whole
        // live list just to keep the schema (review r13)
        import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
        val full = DataType.fromJson(sj).asInstanceOf[StructType]
          .add("bucket_day", IntegerType, nullable = false)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), full)
      } else ManifestRelation.frame(spark, path, m.files, sj, m.stats, m.dicts)
    // prune bucket directories by the query's time range — the reason the
    // layout exists (Orestes' valid-days check, lib/orestes-query.js:30-40)
    val pruned = raw.where(col("bucket_day") >= lo && col("bucket_day") <= hi)
    // push the [start, end) bounds on the PHYSICAL time_ms column too:
    // Tsdb.read re-applies them through the ts alias (unix_millis over
    // timestamp_millis), which parquet can't push — this plain comparison
    // reaches PushedFilters, so row groups prune by time WITHIN a bucket
    val df = (if (startMs != Long.MinValue) pruned.where(col("time_ms") >= startMs)
              else pruned) match {
      case p if endMs != Long.MaxValue => p.where(col("time_ms") < endMs)
      case p => p
    }
    val tags = df.columns.filterNot(c =>
      c == "time_ms" || c == "value" || c == "bucket_day" || c == WseqCol).toSeq
    Some((df, tags))
  }

  /** Compile an ES filter against the space's stored schema: tags are
    * data-dependent (whatever columns were ever written), and ES filter
    * context matches nothing for a never-indexed field — so querying an
    * unknown tag returns empty rather than AnalysisException.
    */
  // ---- continuous (streaming) ingest mode --------------------------------
  //
  // OPTIONAL alternative to the queued group commit (VERDICT r11 #6): each
  // accepted batch is spooled as one atomically-renamed JSONL file, and a
  // checkpointed Structured Streaming query (file source → foreachBatch →
  // [[write]]) lands spool files continuously — sustained small-batch POSTs
  // never wait for a flush trigger (size threshold or a read). Exactly-once
  // across a crash restart is compositional: the file source replays the
  // batch whose commit is missing from the checkpoint, the replayed batch
  // re-appends rows with the SAME spooled `__wseq` stamps, and the
  // last-write-wins merge keeps one row per (series, time) — a replayed
  // point is an overwrite with the same value, invisible to readers.
  //
  // The trade vs the queued path: reads no longer force the landing, so
  // read-your-writes becomes read-your-LANDED (bounded by the trigger
  // interval; [[awaitContinuous]] is the barrier). The queued path stays
  // the default; the facade opts in per server (config `continuous_ingest`).

  private val continuousLock = new Object
  private val continuousQueries = scala.collection.mutable.Map
    .empty[String, org.apache.spark.sql.streaming.StreamingQuery]
  // dot-prefixed siblings of the space dirs: invisible to spaces()'s
  // bucket_day scan and to Spark's file listings
  private def spoolPath(space: String) = s"$root/.spool/$space"
  private def spoolCkpt(space: String) = s"$root/.spool-ckpt/$space"

  /** Accept a client batch in continuous mode: validate + normalize exactly
    * as [[writeQueued]] (same rules, same error strings, same `__wseq`
    * stamping), then commit the accepted lines as ONE spool file via
    * write-to-temp + atomic rename (the file source never sees a partial
    * file: dot-prefixed temps are hidden from it). Returns per-point errors
    * immediately; the standing ingest query lands the file.
    */
  def writeSpooled(points: Seq[com.fasterxml.jackson.databind.JsonNode],
                   space: String = "default"): Seq[String] = {
    val (errors, good, _) = normalizeBatch(points)
    if (good.nonEmpty) {
      startContinuousIngest(space) // idempotent; first write boots the query
      val (fs0, dir) = fsOf(spoolPath(space))
      // spool through the RAW local FS when the store is on local disk:
      // the ChecksumFileSystem writes a .crc sibling per create+rename —
      // a second tiny file per POST that the r13 HttpPerf breakdown
      // measured as the dominant sustained-mode cost (~20 ms/POST vs the
      // queued path's ~6 ms; the spool's durability contract is the
      // atomic rename, and Spark's text source reads fine without the
      // sibling) — and the body through writeSmallFile, which forks no
      // chmod. HDFS/S3 are not ChecksumFileSystems — unaffected.
      val fs = Graft.rawFs(fs0)
      fs.mkdirs(dir)
      val n = nextSeq()
      val tmp = new HPath(dir, s".tmp-$n")
      Graft.writeSmallFile(fs, tmp, good.map(_._2).mkString("\n") + "\n")
      if (!fs.rename(tmp, new HPath(dir, s"batch-$n.jsonl")))
        throw new java.io.IOException(s"spool commit failed for batch $n")
    }
    errors
  }

  /** Start (or return) the standing ingest query for a space: text file
    * source over the spool dir → per-micro-batch [[write]] (the engine's
    * own validated, stamped, bucket-partitioned landing path — tags stay
    * schema-free because each batch's JSON is parsed fresh).
    */
  def startContinuousIngest(space: String = "default")
      : org.apache.spark.sql.streaming.StreamingQuery = continuousLock.synchronized {
    continuousQueries.get(space).filter(_.isActive).getOrElse {
      val (fs, dir) = fsOf(spoolPath(space))
      fs.mkdirs(dir)
      // cleanSource=delete: a spool file whose batch COMMITTED is garbage
      // (its rows live in bucket parquet) — without cleanup the dir grows
      // one file per POST forever and every trigger re-lists all of them
      // (review finding r12). Spark deletes only after the batch's commit
      // marker lands (asynchronously), so crash replay still sees the
      // uncommitted tail. `spoolCleanup=false` keeps every file — the
      // crash-SIM spec needs it because it forges an uncommitted state by
      // deleting the marker of a batch whose files may already be cleaned.
      val q = spark.readStream
        .option("cleanSource", if (spoolCleanup) "delete" else "off")
        .text(spoolPath(space))
        .writeStream
        .option("checkpointLocation", spoolCkpt(space))
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val st = contStatsOf(space)
          val t0 = System.nanoTime()
          // the micro-batch is CACHED before the tag-bag JSON parse:
          // spark.read.json needs a schema-inference pass plus the parse
          // pass, and over the raw file-source frame both passes re-read
          // every spool file from disk (the dominant per-batch cost the
          // r13 profiling found). One executor-memory-sized cache bounds
          // the spool IO at one read per batch regardless of replay size.
          val lines = batch.select(col("value"))
            .as(org.apache.spark.sql.Encoders.STRING).cache()
          try {
            val pts = spark.read.json(lines) // eager: the inference pass
            val t1 = System.nanoTime()
            if (pts.columns.contains("time")) { write(pts, space); () }
            st(0).incrementAndGet()
            st(1).addAndGet(t1 - t0)
            st(2).addAndGet(System.nanoTime() - t1)
            ()
          } finally lines.unpersist()
        }
        .start()
      continuousQueries(space) = q
      q
    }
  }

  /** Per-space continuous-ingest stage counters (micro-batches, parse
    * nanos, landing-job nanos) — the breakdown behind the sustained-mode
    * perf number (VERDICT r12 #4), readable via [[continuousStats]].
    */
  private val contStats = new java.util.concurrent.ConcurrentHashMap[
    String, Array[java.util.concurrent.atomic.AtomicLong]]()
  private def contStatsOf(space: String) =
    contStats.computeIfAbsent(space,
      _ => Array.fill(3)(new java.util.concurrent.atomic.AtomicLong()))

  /** (micro-batches landed, total JSON-parse seconds, total landing-job
    * seconds) for a space's standing ingest query since boot.
    */
  def continuousStats(space: String = "default"): (Long, Double, Double) = {
    val a = contStatsOf(space)
    (a(0).get, a(1).get / 1e9, a(2).get / 1e9)
  }

  /** Barrier: wait until every spool file written so far has landed (the
    * continuous-mode analog of [[flushQueued]] for tests and perf runs).
    * A query that DIED rethrows its failure here instead of silently
    * reporting durability that never happened (review finding r12). */
  def awaitContinuous(space: String = "default"): Unit =
    continuousLock.synchronized { continuousQueries.get(space) }.foreach { q =>
      if (q.isActive) q.processAllAvailable()
      else q.exception.foreach(throw _)
    }

  /** Stop all standing ingest queries (shutdown path). Spool files not yet
    * committed to the checkpoint are REPLAYED by the next
    * [[startContinuousIngest]] on the same root — stop is loss-free. */
  def stopContinuous(): Unit = continuousLock.synchronized {
    var firstErr: Throwable = null
    continuousQueries.values.foreach { q =>
      try {
        if (q.isActive) q.stop()
        q.awaitTermination() // fully deregistered before the lock releases —
        // a same-checkpoint restart must never see a half-stopped twin
      } catch {
        // a query that already died rethrows its failure from
        // awaitTermination — record it, but keep stopping the others
        case e: Throwable => if (firstErr == null) firstErr = e
      }
    }
    continuousQueries.clear()
    if (firstErr != null) throw firstErr
  }

  private def compileFor(pt: PointsTable, filter: String): Column =
    EsFilter.compile(filter, pt.df.columns)

  private def empty(schema: String): DataFrame = {
    val st = if (schema.trim.isEmpty) org.apache.spark.sql.types.StructType(Nil)
             else org.apache.spark.sql.types.StructType.fromDDL(schema)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
  }

  /** `/read`: points in [startMs, endMs) for series matching the ES filter. */
  def read(filter: String, space: String = "default",
           startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue): DataFrame =
    table(space, startMs, endMs) match {
      case Some(pt) => Tsdb.read(pt, compileFor(pt, filter), startMs, endMs)
      case None => empty("time_ms BIGINT, value DOUBLE")
    }

  /** Time travel: [[read]] pinned to snapshot `snapshot`
    * (a seq from [[snapshots]]) — the store exactly as that commit left it,
    * valid until [[vacuum]] expires the snapshot. The write queue is NOT
    * flushed first: a pinned read must not advance the store it is
    * inspecting.
    */
  def readAt(snapshot: Long, filter: String, space: String = "default",
             startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue): DataFrame = {
    require(snapshots(space).contains(snapshot),
      s"snapshot $snapshot does not exist (have: ${snapshots(space).mkString(", ")})")
    tableAt(space, snapshot, startMs, endMs) match {
      case Some(pt) => Tsdb.read(pt, compileFor(pt, filter), startMs, endMs)
      case None => empty("time_ms BIGINT, value DOUBLE")
    }
  }

  private def tableAt(space: String, snapshot: Long, startMs: Long,
                      endMs: Long): Option[PointsTable] =
    table(space, startMs, endMs, pinned = Some(snapshot))

  /** Store-level CDC (r14): the logical row-level diff
    * between two committed snapshots — one row per (series, time) whose
    * merged value differs, with `change` ∈ added / removed / changed and
    * both values. This is the frame an incremental consumer (index
    * rebuild, downstream sync) reads instead of rescanning the store —
    * the Delta change-data-feed shape, composed from [[readAt]] + the
    * LWW merge the reads already apply, so "change" means what a reader
    * would actually observe (an overwrite that lands the same value is
    * NOT a change; a compaction is pure physical rewrite and yields zero
    * rows).
    *
    * Scale shape: bucket days whose `#seg` reference is IDENTICAL in both
    * snapshots are bit-identical physical content and are skipped without
    * fetching anything — the manifest-list indirection makes the diff's
    * read cost proportional to the buckets that CHANGED, and the join
    * shuffles only those buckets' rows.
    */
  def changes(fromSnap: Long, toSnap: Long, space: String = "default"): DataFrame = {
    val have = snapshots(space)
    Seq(fromSnap, toSnap).foreach(s => require(have.contains(s),
      s"snapshot $s does not exist (have: ${have.mkString(", ")})"))
    require(fromSnap <= toSnap,
      s"changes requires fromSnap <= toSnap (got $fromSnap > $toSnap)")
    val (mfs, mdir) = fsOf(manifestPath(space))
    val stF = readSnapState(mfs, mdir, fromSnap)
    val stT = readSnapState(mfs, mdir, toSnap)
    def daysOf(st: SnapState): Map[Long, String] =
      st.segs.map(s => s.day -> s.name).toMap
    val (df, dt) = (daysOf(stF), daysOf(stT))
    // a day is UNCHANGED iff both snapshots reference the same immutable
    // segment file; anything else (differing refs, one-sided) is a
    // candidate and gets diffed row-level
    val changedDays = (df.keySet ++ dt.keySet)
      .filter(d => df.get(d) != dt.get(d)).toSeq.sorted
    val g = granularityOf(space)
    val (startMs, endMs) =
      if (changedDays.isEmpty) (0L, 1L) // nothing differs: cheap empty reads
      else (changedDays.min * Det.MsInDay, (changedDays.max + g) * Det.MsInDay)
    val matchAll = """{"match_all":{}}"""
    val before0 = readAt(fromSnap, matchAll, space, startMs, endMs)
    val after0 = readAt(toSnap, matchAll, space, startMs, endMs)
    // exact-day membership (the window can cover unchanged days between
    // min and max): time_ms -> bucket day, floor semantics like the writer
    def dayCol(c: Column): Column =
      (floor(floor(c / lit(Det.MsInDay.toDouble)) / g) * g).cast("long")
    val dayFilter: Column => Column =
      if (changedDays.isEmpty) _ => lit(false)
      else c => dayCol(c).isin(changedDays: _*)
    val tags = (before0.columns ++ after0.columns).distinct
      .filterNot(c => c == "time_ms" || c == "value").sorted
    def typeOf(c: String): org.apache.spark.sql.types.DataType =
      before0.schema.fields.find(_.name == c)
        .orElse(after0.schema.fields.find(_.name == c)).get.dataType
    def norm(d: DataFrame, valueAs: String): DataFrame =
      d.where(dayFilter(col("time_ms"))).select(
        tags.map(c =>
          (if (d.columns.contains(c)) col(c)
           else lit(null).cast(typeOf(c))).as(c)) ++
          Seq(col("time_ms"), col("value").as(valueAs)): _*)
    val b = norm(before0, "old_value")
    val a = norm(after0, "new_value")
    val cond = tags.map(c => b(c) <=> a(c))
      .foldLeft(b("time_ms") === a("time_ms"))(_ && _)
    b.join(a, cond, "full_outer")
      .select(tags.map(c => coalesce(b(c), a(c)).as(c)) ++ Seq(
        coalesce(b("time_ms"), a("time_ms")).as("time_ms"),
        b("old_value").as("old_value"), a("new_value").as("new_value"),
        when(b("old_value").isNull, "added")
          .when(a("new_value").isNull, "removed")
          .otherwise("changed").as("change")): _*)
      .where(col("old_value").isNull || col("new_value").isNull ||
        col("old_value") =!= col("new_value"))
      .orderBy(tags.map(col) :+ col("time_ms"): _*)
  }

  /** `/read` in the reference's response shape: one row per series with its
    * tags and the time-sorted `[time_ms, value]` point array (README
    * "series"/"points"). The relational [[read]] is the analytical form;
    * this is the API-compatible one.
    */
  def readSeries(filter: String, space: String = "default",
                 startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue): DataFrame =
    tableRaw(space, startMs, endMs) match {
      case Some((df, tags)) =>
        // Filtering commutes with the per-key LWW dedup ONLY when the
        // predicate references TAG columns alone (tags are the LWW key;
        // time bounds are already applied by tableRaw) — then the merge
        // can FUSE into the nesting aggregation below instead of
        // shuffling once for the merge window and again for the
        // per-series arrays (r17, perf: the two shuffles were ~half the
        // served /read latency at low series cardinality). A filter that
        // touches value/time/__wseq must apply POST-merge — otherwise a
        // superseded row that passes the filter while the winning
        // overwrite fails it would resurface as the last of its time
        // group (r17 ADVICE). Detection: compile against the full schema
        // and against tags only; unknown fields resolve to null in both,
        // so the trees differ exactly when a non-tag column is referenced.
        val withTs = df.withColumn("ts", timestamp_millis(col("time_ms")))
        val full = EsFilter.compile(filter, withTs.columns)
        val tagsOnly = EsFilter.compile(filter, tags)
        val stamped = df.columns.contains(WseqCol)
        // Column.equals compares ORIGIN-normalized node trees — the two
        // compiles differ exactly when a non-tag column resolved (to a
        // real reference vs the unknown-field null literal)
        val fusable = !stamped || full == tagsOnly
        // ONE exchange total (r18, VERDICT r17 #2): the nesting aggregate
        // (collect_list) is NON-REDUCING — its partial buffers carry every
        // point — so the r17 shape (parallel partial agg → hash exchange →
        // final agg → single-partition exchange → sort) moved all the data
        // through TWO exchanges across THREE stages for zero map-side-
        // combine win. Shuffling the RAW filtered points to one partition
        // FIRST costs the same bytes, and a SinglePartition child
        // satisfies the groupBy's clustering requirement, so the
        // aggregation and the series-order sort run exchange-free in the
        // same stage. The funnel is inherent to the endpoint: the full
        // result serializes through one HTTP socket regardless — scan and
        // filter stay parallel, only the response assembly is one task.
        // Analytical consumers wanting parallel output use [[read]].
        def nest(flat: DataFrame): DataFrame =
          flat.repartition(1)
            .groupBy(tags.map(col): _*)
            .agg(sort_array(collect_list(struct(col("time_ms"), col("value"))))
              .as("points"))
        val nested =
          if (!fusable) {
            // non-tag filter on a stamped store: merge first (same
            // physical shape as [[read]]/[[table]]), then filter, then
            // nest — correctness over the fused shuffle saving.
            val merged = lwwMerged(df, (tags :+ "time_ms").map(col))
              .withColumn("ts", timestamp_millis(col("time_ms")))
            nest(merged.where(full).drop("ts"))
          } else if (!stamped)
            nest(withTs.where(full).drop("ts"))
          else
            // fused LWW: per series, sort (time, wseq, value) ascending
            // and keep the LAST element of each time group — exactly
            // lwwMerged's max-(wseq, value) pick (struct ordering is
            // field-by-field, null wseq smallest), applied per-array
            // instead of per-shuffle
            withTs.where(tagsOnly).drop("ts").repartition(1)
              .groupBy(tags.map(col): _*)
              .agg(sort_array(collect_list(struct(col("time_ms"),
                col(WseqCol).as("w"), col("value")))).as("__pts"))
              .withColumn("points", expr(
                "transform(filter(__pts, (x, i) -> i = size(__pts) - 1 " +
                  "OR __pts[i + 1].time_ms <> x.time_ms), " +
                  "p -> struct(p.time_ms AS time_ms, p.value AS value))"))
              .drop("__pts")
        // deterministic series order WITHOUT a global sort (r17, perf):
        // orderBy planned a RangePartitioner whose boundary-sample job
        // recomputed the whole aggregation a second time. The rows are
        // already in one partition — sorting there is the total order.
        nested.sortWithinPartitions(tags.map(col): _*)
      case None => empty("points ARRAY<STRUCT<time_ms: BIGINT, value: DOUBLE>>")
    }

  /** `/read` with count aggregation: per-series point counts. */
  def countPoints(filter: String, space: String = "default",
                  startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue): DataFrame =
    table(space, startMs, endMs) match {
      case Some(pt) => Tsdb.countPoints(pt, compileFor(pt, filter), startMs, endMs)
      case None => empty("n BIGINT")
    }

  /** `/series`: distinct tag sets with data in range. */
  def seriesList(filter: String, space: String = "default",
                 startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue): DataFrame =
    table(space, startMs, endMs) match {
      case Some(pt) => Tsdb.seriesList(pt, compileFor(pt, filter), startMs, endMs)
      case None => empty("")
    }

  /** `/select_distinct`: distinct values of a tag-key subset. */
  def selectDistinct(keys: Seq[String], filter: String = """{"match_all":{}}""",
                     space: String = "default"): DataFrame =
    table(space) match {
      case Some(pt) => Tsdb.selectDistinct(pt, compileFor(pt, filter), keys)
      case None => empty(keys.map(k => s"$k STRING").mkString(", "))
    }

  /** Ranked series retrieval (r14, VERDICT r13 #7): BM25 over each
    * series' TAG BAG — the scoring context the reference's Elasticsearch
    * backend provides for series metadata, now reachable from a public
    * surface (this API + the facade's `/search` route). One document per
    * series: its text is the space-joined tag values, tokenized with the
    * batch pipeline's analyzer; scores come from [[TextOps.bm25TopKOn]],
    * so the facade, the SQL surface and the corpus scorers share ONE
    * scoring rule. Returns the top-k series' tags with `score`, rank
    * order (score desc, then tags).
    *
    * Scale shape: the only corpus-sized work is the distinct-series
    * aggregation (the same shuffle `/series` already pays); scoring is
    * bm25TopKOn's single-scan + broadcast-stats + TakeOrdered plan over
    * the series frame, never a global sort.
    */
  def search(terms: Seq[String], space: String = "default",
             k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    table(space) match {
      case None => empty("score DOUBLE")
      case Some(pt) => Tsdb.searchSeries(pt, terms, k)
    }
  }

  /** [[search]] for the facade's per-request path (ADVICE r16 low):
    * recomputable persist instead of the batch variant's pinned
    * localCheckpoint, plus a cleanup the caller runs once the response
    * is drained — see [[Tsdb.searchSeriesUnpinned]]. */
  def searchUnpinned(terms: Seq[String], space: String = "default",
                     k: Int = 20): (DataFrame, () => Unit) = {
    require(terms.nonEmpty, "search needs at least one term")
    table(space) match {
      case None => (empty("score DOUBLE"), () => ())
      case Some(pt) => Tsdb.searchSeriesUnpinned(pt, terms, k)
    }
  }

  /** The spaces with stored data — the reference's implicit multi-space
    * namespace surfaced (conf `spaces.<name>`, test/multiple-spaces.spec.js).
    */
  def spaces(): Seq[String] = {
    flushQueued()
    val (fs, dir) = fsOf(root)
    if (!isDir(fs, dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        fs.listStatus(st.getPath).exists(_.getPath.getName.startsWith("bucket_day=")))
      .map(_.getPath.getName).sorted
  }

  /** SQL front door: register this store's spaces as temp views and run an
    * ANSI SQL query against them — the entry point for a user holding a SQL
    * client rather than the DataFrame API. Each space surfaces as
    * `graft_<space>` (non-identifier characters mapped to `_`) with the
    * relational read shape (`time_ms BIGINT, value DOUBLE, <tag columns>`).
    *
    * The views are (re)registered per call OVER THE MERGED READ, not the raw
    * files: [[read]]'s pipeline flushes the space's write queue, prunes
    * buckets, and applies the `__wseq` last-write-wins merge — so SQL sees
    * exactly what `/read` serves (an overwritten point surfaces once, with
    * its latest value, and the stamp column never leaks into the schema).
    * Re-registering per call also re-lists the bucket files, so a view never
    * goes stale against later writes (a temp view pins its file listing at
    * creation). The graft kernels (`graft_dot`, `graft_osa`, …) are available
    * in the query when the session was built with
    * `spark.sql.extensions=graft.functions.GraftExtensions` (all shipped
    * entry points do this).
    */
  def sql(query: String): DataFrame = {
    val sps = spaces() // flushes every queue, so no space is missed
    // name-mangling must stay injective for THIS store's spaces: "a.b" and
    // "a_b" would silently share one view, last registration winning
    // (review finding r12) — reject loudly instead
    val byView = sps.groupBy(sp => "graft_" + sp.replaceAll("[^A-Za-z0-9_]", "_"))
    byView.find(_._2.size > 1).foreach { case (v, ss) =>
      throw new IllegalArgumentException(
        s"spaces ${ss.mkString(", ")} collide on SQL view name $v")
    }
    sps.foreach(sqlView(_))
    spark.sql(query)
  }

  /** Register one space's merged read as a temp view; returns the view name
    * (`graft_<space>`). Registered views are session-scoped and cheap —
    * the plan is lazy; nothing is computed until a query runs.
    */
  def sqlView(space: String = "default"): String = {
    val name = "graft_" + space.replaceAll("[^A-Za-z0-9_]", "_")
    // never clobber a view this store did not create (review finding r12:
    // createOrReplaceTempView would silently replace a user-registered —
    // or another store's — same-named view). graft_* names are reserved
    // for this API; re-registration of OUR OWN view stays cheap and keeps
    // the freshness contract above.
    sqlViewsOwned.synchronized {
      if (!sqlViewsOwned.contains(name) && spark.catalog.tableExists(name))
        throw new IllegalStateException(
          s"view or table '$name' already exists and was not created by " +
            "this store (graft_* view names are reserved for " +
            "Graft.sql/sqlView): drop it or rename the space")
      read("""{"match_all":{}}""", space).createOrReplaceTempView(name)
      sqlViewsOwned += name
    }
    name
  }

  /** View names THIS store registered via [[sqlView]] — the set that makes
    * re-registration (freshness) distinguishable from clobbering someone
    * else's view.
    */
  private val sqlViewsOwned = scala.collection.mutable.Set.empty[String]

  /** Time-travel SQL: run ANSI SQL against ONE space pinned
    * to `snapshot`, registered as `graft_<space>_at_<snapshot>` — the SQL
    * face of [[readAt]] (an auditor's "what did the store say last Tuesday"
    * query). The pinned view is registered fresh per call and owned like
    * [[sqlView]]'s; live `graft_<space>` views are untouched, so a query
    * can join history against the present.
    */
  def sqlAt(snapshot: Long, query: String, space: String = "default"): DataFrame = {
    val name = "graft_" + space.replaceAll("[^A-Za-z0-9_]", "_") + s"_at_$snapshot"
    sqlViewsOwned.synchronized {
      if (!sqlViewsOwned.contains(name) && spark.catalog.tableExists(name))
        throw new IllegalStateException(
          s"view or table '$name' already exists and was not created by " +
            "this store (graft_* view names are reserved)")
      readAt(snapshot, """{"match_all":{}}""", space)
        .createOrReplaceTempView(name)
      sqlViewsOwned += name
    }
    sqlView(space) // the live view stays available for history-vs-now joins
    spark.sql(query)
  }

  /** Fragmentation report — the operational signal a compaction daemon
    * watches: per bucket, its file count, total bytes, and whether any
    * file still carries write-sequence stamps (one stamped file anywhere
    * keeps the last-write-wins merge window on EVERY read of the store —
    * see [[compact]]). `(bucket_day, n_files, bytes, stamped)`, day-sorted.
    * Queued writes flush first so the report covers everything acked.
    */
  def fragmentation(space: String = "default"): Seq[(Long, Int, Long, Boolean)] = {
    flushQueued(space)
    val (fs, dir) = fsOf(spacePath(space))
    if (!isDir(fs, dir)) return Nil
    // the report covers the LIVE set: retired-but-unvacuumed files are
    // storage overhead (vacuum's concern), not fragmentation. Byte totals
    // ride in the manifest, and so does the stamp GATE: a fully-compacted
    // store's manifest schema carries no __wseq ([[compact]]
    // recomputes it for exactly this purpose), so the standing daemon's
    // idle sweep answers "any stamps?" from the one snapshot it already
    // read — zero footer jobs on a converged store (code review r14).
    // Only while the store-wide schema still has __wseq do per-bucket
    // footer reads run, for the per-bucket accuracy the trigger needs.
    ensureManifest(space) // adopt a pre-manifest store
    val path = spacePath(space)
    val m = liveManifest(space)
    val anyStamps = m.schemaJson.forall(_.contains("\"" + WseqCol + "\""))
    m.files
      .groupBy(_._1.takeWhile(_ != '/')).toSeq
      .map { case (bname, bfiles) =>
        val day = bname.stripPrefix("bucket_day=").toLong
        val bytes = bfiles.map(_._2).sum
        val stamped = anyStamps && spark.read.option("mergeSchema", "true")
          .parquet(bfiles.map(f => s"$path/${f._1}"): _*)
          .columns.contains(WseqCol)
        (day, bfiles.length, bytes, stamped)
      }.sortBy(_._1)
  }

  /** Compaction: rewrite fragmented buckets into ceil(bytes/targetBytes)
    * files, restoring the (tags, time) clustering the writer establishes —
    * the small-files maintenance job every append-heavy store needs (each
    * streaming micro-batch / bulk write adds files; row-group stats degrade
    * as files shrink). Range-repartition by the clustering key keeps files
    * disjoint on series, so post-compaction reads prune row groups exactly
    * as freshly-written data does. A bucket is left untouched when its file
    * count is at target AND it holds no write-sequence stamps.
    *
    * The swap is a manifest COMMIT: the rewrite's tasks write its files
    * straight into the bucket dir under this compaction's `c<gen>` prefix
    * ([[DirectCommitProtocol]]), replaced files stay on disk (pinned
    * readers stream from them; [[vacuum]] reclaims), and the crash story is
    * one state (written-but-uncommitted output files, invisible to every
    * snapshot and swept by vacuum past the orphan grace). No staging dir,
    * no rename, no recovery scan.
    * Returns (bucket_day, files_before, files_after) per compacted bucket.
    */
  def compact(space: String = "default",
              targetBytes: Long = 128L * 1024 * 1024): Seq[(Long, Int, Int)] = {
    flushQueued(space)
    val path = spacePath(space)
    val (fs, dir) = fsOf(path)
    if (!isDir(fs, dir)) return Nil
    mutationLock(space).synchronized {
      bootstrapManifest(space) // adopt a pre-manifest store
      val live = liveManifest(space)
      if (live.files.isEmpty) return Nil
      val gen = nextSeq() // unique output-file prefix for this compaction
      val schemas = Seq.newBuilder[org.apache.spark.sql.types.StructType]
      val gathered = Seq.newBuilder[(String, FileStats)]
      val swaps = live.files.groupBy(_._1.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        .flatMap { case (bname, bfiles) =>
          val day = bname.stripPrefix("bucket_day=")
          val bytes = bfiles.map(_._2).sum // sizes ride in the manifest
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          // no basePath: the frame must not carry the partition column
          val df = spark.read.option("mergeSchema", "true")
            .parquet(bfiles.map(f => s"$path/${f._1}"): _*)
          if (bfiles.length <= nOut && !df.columns.contains(WseqCol)) {
            schemas += df.schema // untouched bucket: schema as stored
            None
          } else {
            val tagCols = df.columns.filterNot(c =>
              c == "time_ms" || c == "value" || c == WseqCol).toSeq
            val key = tagCols.map(col) :+ col("time_ms")
            val merged = lwwMerged(df, key)
            schemas += merged.schema // rewritten bucket: the stamp retires
            // the outputs land in the bucket dir under this generation's
            // prefix; the bucket now holds old + new files, and only the
            // manifest decides which are live
            val written = writeGathering(merged.repartitionByRange(nOut, key: _*)
              .sortWithinPartitions(key: _*), new HPath(dir, bname), Nil,
              DirectCommitProtocol.compactionPrefix(gen))
            gathered ++= written.map(f => f.rel -> f.stats)
            Some((day.toLong, bfiles.length, written.length,
              bfiles.map(_._1).toSet, written.map(f => (f.rel, f.size))))
          }
        }
      if (swaps.isEmpty) return Nil
      // the schema is RECOMPUTED as the union of the post-swap buckets
      // (each was read for the rewrite decision anyway, so this is free):
      // after a full pass no live file carries __wseq, the manifest
      // schema drops it, and reads go window-free — the compaction
      // contract, now visible in metadata instead of re-derived from
      // footers on every read
      val newSchema = schemas.result().foldLeft(Option.empty[String])(
        (acc, s) => Some(mergeDataSchema(acc, s)))
      // a column the new schema holds but a rewritten file lacks reads as
      // null there, so it records the empty dictionary
      val (addedStats, addedDicts) = statsMaps(mergeStats(gathered.result()),
        dictCols(org.apache.spark.sql.types.DataType.fromJson(newSchema.get)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
      // STALE-SWAP VALIDATION (r17, VERDICT r16 #4 — found by the
      // two-JVM race spec): a swap is only committable while EVERY file
      // it replaces is still live. A concurrent compactor in another
      // process can rewrite the same bucket first; blindly re-applying
      // "remove mine, add mine" on the fresh state would then keep BOTH
      // compacted copies — every point in the bucket duplicated. The
      // check is per BUCKET, so two compactors sweeping disjoint buckets
      // both land; a dropped swap's output files are uncommitted orphans
      // (vacuum reclaims them) and the winner already did that bucket's
      // work. Runs inside the commit closure — re-validated on every
      // optimistic re-apply, exactly like Iceberg's replace-file
      // validation. The closure may run more than once: `applied` keeps
      // only the LAST attempt's verdict (the one that committed).
      var applied: Seq[(Long, Int, Int)] = Nil
      commitManifest(space) { cur =>
        val liveNow = cur.files.map(_._1).toSet
        val valid = swaps.filter(_._4.subsetOf(liveNow))
        applied = valid.map(s => (s._1, s._2, s._3))
        val replaced = valid.flatMap(_._4).toSet
        val added = valid.flatMap(_._5)
        // if any swap went stale, another writer's compaction landed
        // since our rewrite: union our recomputed schema with the
        // current one instead of overwriting it — conservative (a
        // lingering __wseq column just keeps the read-side merge window,
        // always correct) and never drops a column the winner's files
        // still carry
        val schema =
          if (valid.size == swaps.size) newSchema
          else (newSchema.toSeq ++ cur.schemaJson.toSeq)
            .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .foldLeft(Option.empty[String])(
              (acc, s) => Some(mergeDataSchema(acc, s)))
        Manifest(
          cur.files.filterNot(f => replaced(f._1)) ++ added, schema,
          (cur.stats -- replaced) ++ addedStats.filter(kv => added.exists(_._1 == kv._1)),
          (cur.dicts -- replaced) ++ addedDicts.filter(kv => added.exists(_._1 == kv._1)))
      }
      applied.sortBy(_._1)
    }
  }

  /** `/delete`: drop whole buckets whose last day is older than
    * `today - keepDays` (reference semantics, lib/orestes-remover.js:16-39).
    * `todayDay` defaults to the current wall clock like the reference;
    * injectable for determinism. Returns the dropped bucket days.
    */
  def remove(keepDays: Int, space: String = "default",
             todayDay: Long = System.currentTimeMillis() / Det.MsInDay): Seq[Long] = {
    flushQueued(space)
    val doomed = todayDay - keepDays
    val (fs, dir) = fsOf(spacePath(space))
    if (!isDir(fs, dir)) return Nil
    // retention is a manifest commit: the doomed buckets' files leave the
    // live set (readers planned after this see them gone) but stay on
    // disk for pinned snapshots until [[vacuum]] — the same deferred
    // deletion every mutation gets
    mutationLock(space).synchronized {
      bootstrapManifest(space) // adopt a pre-manifest store
      val files = liveManifest(space).paths
      val days = files.map(dayOfPath).distinct
      val dropDays = days.filter(day =>
        math.min(day + granularityOf(space) - 1, todayDay) <= doomed).sorted
      if (dropDays.nonEmpty) {
        val dd = dropDays.toSet
        commitManifest(space) { cur =>
          val keep = cur.files.filterNot(f => dd(dayOfPath(f._1)))
          // the live schema is re-derived from the surviving files (one
          // footer pass at mutation time, never at read time): a tag that
          // only ever appeared in the dropped buckets leaves the schema,
          // exactly as mergeSchema inference over the survivors has it.
          // Normalized through mergeDataSchema like every other commit —
          // a verbatim footer schema would mark __wseq REQUIRED while
          // compacted files lack the column, the nullability-vs-nulls
          // wrong-results hazard (review r13)
          val schema =
            if (keep.isEmpty) None
            else Some(mergeDataSchema(None,
              footerDataSchema(space, keep.map(_._1))))
          // surviving files keep their zone maps + dictionaries;
          // commitManifest prunes dropped entries with their file lines
          Manifest(keep, schema, cur.stats, cur.dicts)
        }
      }
      dropDays
    }
  }

  /** One pass of the compaction daemon (r14): for every space whose
    * [[fragmentation]] report shows a bucket past `maxFilesPerBucket` (or
    * still carrying write-sequence stamps — one stamped file anywhere
    * keeps the merge window on every read), run [[compact]]. Each space's
    * rewrite serializes on its mutation lock like any mutation; the swap
    * is a commit and readers never retry. Returns
    * the per-space compaction reports (spaces left untouched are absent).
    */
  def compactionSweep(maxFilesPerBucket: Int = 8,
                      targetBytes: Long = 128L * 1024 * 1024)
      : Map[String, Seq[(Long, Int, Int)]] =
    spaces().map(sp =>
      sp -> compactIfFragmented(sp, maxFilesPerBucket, targetBytes))
      .filter(_._2.nonEmpty).toMap

  /** One space's share of [[compactionSweep]]: [[compact]] it when its
    * [[fragmentation]] report shows a bucket past `maxFilesPerBucket` or
    * still carrying write-sequence stamps; Nil when left untouched. */
  def compactIfFragmented(space: String, maxFilesPerBucket: Int = 8,
                          targetBytes: Long = 128L * 1024 * 1024)
      : Seq[(Long, Int, Int)] =
    if (fragmentation(space).exists(b => b._2 > maxFilesPerBucket || b._4))
      compact(space, targetBytes)
    else Nil

  /** Config-driven retention: apply every `keep_days` configured per space
    * (Graft.Config / `spaces.<name>.keep_days`) through [[remove]] — the
    * scheduled sweep the reference runs per-request (orestes-remover.js:19
    * takes keep_days from the query; the config form lets an operator
    * declare the policy once at boot). Returns dropped bucket days per
    * configured space; spaces without a configured keep_days are untouched.
    */
  def retentionSweep(todayDay: Long = System.currentTimeMillis() / Det.MsInDay)
      : Map[String, Seq[Long]] =
    spaceKeepDays.map { case (sp, kd) => sp -> remove(kd, sp, todayDay) }

  /** The per-space keep_days policy this store was configured with — the
    * spaces the maintenance sweep's retention step visits
    * ([[graft.http.ServerMain.sweep]]). */
  def configuredKeepDays: Map[String, Int] = spaceKeepDays
}

object Graft {
  /** How old an UNREFERENCED file/segment/commit-body must be before
    * [[Graft.vacuum]] treats it as a true orphan rather than another
    * process's in-flight commit (data and segments land before the
    * m<seq+1> claim). 10 minutes dwarfs any commit window while keeping
    * crash debris from accumulating; pass `orphanGraceMs = 0` to force
    * the old sweep-everything behavior (tests, single-process stores). */
  val DefaultOrphanGraceMs: Long = 10 * 60 * 1000L

  /** Snapshot-claim primitives (config key `commit_primitive`): `auto`
    * resolves by filesystem scheme — local → `hardlink`, HDFS-contract →
    * `rename` — and REFUSES anything else with a message naming this key.
    * `create-exclusive` commits via `fs.create(dst, overwrite=false)`
    * (for stores honoring the flag atomically, e.g. S3 with conditional
    * writes enabled); `unsafe-rename` keeps exists+rename on stores where
    * rename overwrites — the operator accepts single-writer discipline.
    */
  val PrimAuto = "auto"
  val PrimHardLink = "hardlink"
  val PrimRename = "rename"
  val PrimCreateExclusive = "create-exclusive"
  val PrimUnsafeRename = "unsafe-rename"
  val ValidPrimitives: Set[String] =
    Set(PrimHardLink, PrimRename, PrimCreateExclusive, PrimUnsafeRename)

  private[graft] def rawFs(fs0: FileSystem): FileSystem = fs0 match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private val nonceGen = new java.util.concurrent.atomic.AtomicLong(
    System.nanoTime())
  private[graft] def nonce(): String =
    java.lang.Long.toUnsignedString(nonceGen.incrementAndGet(), 36)

  /** Write a small metadata file whole — manifest segments, claim bodies,
    * CDC markers and `_sync` files, spool batches — replacing any earlier
    * body. On a local filesystem (chosen by class, as [[rawFs]] and
    * [[resolveClaim]] choose) the body goes through `java.nio` and leaves
    * no `.crc` sibling: without the native Hadoop library every local
    * Hadoop `create` forks a `chmod` (about 5 ms; twice that through the
    * checksummed FS, whose `.crc` is a second file), and a manifest commit
    * writes one segment per touched bucket. A `.crc` sibling that a
    * checksummed writer left for an earlier body is deleted first, or the
    * checksummed reader would reject the new body. Every other filesystem
    * writes through `fs.create`.
    */
  private[graft] def writeSmallFile(fs: FileSystem, p: HPath,
                                    body: String): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    rawFs(fs) match {
      case local: org.apache.hadoop.fs.RawLocalFileSystem =>
        val f = local.pathToFile(p).toPath
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
        java.nio.file.Files.write(f, bytes)
      case _ =>
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
    }
  }

  /** The body of a small metadata file written by [[writeSmallFile]] (or
    * claimed by [[claimAt]]), or None when it does not exist. */
  private[graft] def readSmallFile(fs: FileSystem, p: HPath): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Resolve a claim primitive for the filesystem holding a marker — the
    * ONE per-scheme capability check (r16, VERDICT r15 #3) shared by the
    * snapshot commit, the CDC consumers' progress markers
    * ([[graft.streaming.CdcStream.commit]]) and the index fold marker
    * ([[graft.streaming.CdcIndexSync.compactIndex]]). `auto` picks by
    * scheme and REFUSES schemes with no known-atomic claim rather than
    * silently racing; the refusal names the config key. `what` names the
    * marker class in the message so an operator knows WHICH directory
    * (store, index, consumer state) needs the explicit setting.
    */
  private[graft] def resolveClaim(fs0: FileSystem, configured: String,
                                  what: String): String = configured match {
    case PrimAuto =>
      val fs = rawFs(fs0)
      // getUri is always implemented (getScheme is not — RawLocalFileSystem
      // inherits the throwing default)
      val scheme = scala.util.Try(fs.getUri.getScheme).getOrElse("unknown")
      scheme match {
        case "file" => PrimHardLink
        case "hdfs" | "viewfs" => PrimRename
        case other => throw new IllegalStateException(
          s"no known-atomic claim primitive for the $what on filesystem " +
            s"scheme '$other' — a concurrent writer could be silently " +
            "lost (rename on object stores is copy+delete and the " +
            "exists check is a race). Set commit_primitive explicitly: " +
            "'create-exclusive' if the store honors atomic " +
            "create(overwrite=false) (e.g. S3 with conditional writes, " +
            "HDFS-compatible stores), or 'unsafe-rename' to accept " +
            "single-writer discipline (YOU must guarantee only one " +
            "process ever commits here)")
      }
    case p if ValidPrimitives(p) => p
    case p => throw new IllegalArgumentException(
      s"unknown commit_primitive '$p' — one of: " +
        (ValidPrimitives + PrimAuto).toSeq.sorted.mkString(", "))
  }

  /** Atomically claim `dst` with `body` under a [[resolveClaim]]-resolved
    * primitive: true = this writer committed, false = another writer owns
    * `dst`. On every primitive the body becomes visible ATOMICALLY with
    * the claim (tmp+hardlink/rename carry the body with the name;
    * create-exclusive on a store honoring the flag is all-or-nothing) —
    * so a crash can never leave a visible-but-empty marker whose readers
    * resolve a phantom referent (ADVICE r15 high, the fold-marker hole).
    *
    *  - `hardlink` (local): write a tmp, hard-link it to `dst` — POSIX
    *    rename OVERWRITES an existing destination, so tmp+rename would
    *    let a claim-race loser silently clobber the winner;
    *    `Files.createLink` fails atomically when the name exists.
    *  - `rename` (HDFS-contract): the rename itself refuses an existing
    *    destination (the Iceberg/HDFS commit primitive), with an exists
    *    pre-check to skip doomed renames. `unsafe-rename` is the same
    *    code path chosen EXPLICITLY for stores where rename overwrites —
    *    the operator accepts single-writer discipline.
    *  - `create-exclusive`: `fs.create(dst, overwrite=false)` writing the
    *    body directly — atomic on stores honoring the flag with
    *    all-or-nothing visibility (object stores with conditional PUT;
    *    the body is one small metadata file, never streamed).
    */
  private[graft] def claimAt(fs0: FileSystem, dst: HPath, body: String,
                             resolved: String): Boolean = {
    val fs = rawFs(fs0)
    resolved match {
      case PrimCreateExclusive =>
        try {
          val out = fs.create(dst, false)
          try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case prim =>
        val tmp = new HPath(dst.getParent, s".tmp-${dst.getName}-${nonce()}")
        writeSmallFile(fs, tmp, body)
        val won = prim match {
          case PrimHardLink =>
            val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
            val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri)
            try { java.nio.file.Files.createLink(d, t); true }
            catch { case _: java.nio.file.FileAlreadyExistsException => false }
          case _ => // rename | unsafe-rename
            !fs.exists(dst) && fs.rename(tmp, dst)
        }
        // the tmp is garbage on both outcomes — the link shares the inode,
        // the rename already moved it, the loss retries with a fresh body
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        won
    }
  }

  /** The reference's config-file shape (conf/orestes-config.json): the
    * facade `port` plus per-space `spaces.<name>.table_granularity_days`.
    * The cassandra/elasticsearch blocks configure backends graft replaces
    * with parquet + Catalyst and are accepted-and-ignored, so a reference
    * operator's existing file parses unchanged. An optional per-space
    * `keep_days` (graft extension — the reference only takes it per
    * `/delete` request, orestes-remover.js:19) declares the retention
    * policy [[Graft.retentionSweep]] applies.
    */
  case class Config(port: Int, spaceGranularity: Map[String, Int],
                    spaceKeepDays: Map[String, Int] = Map.empty,
                    continuousIngest: Boolean = false,
                    compactionSweepMinutes: Int = 60,
                    compactionMaxFiles: Int = 8,
                    compactionTargetMb: Int = 128,
                    vacuumKeepSnapshots: Int = DefaultVacuumKeep,
                    searchIndex: Boolean = false,
                    commitPrimitive: String = "auto")

  /** Default snapshots the standing vacuum retains. Deep on purpose
    * (ADVICE r14): the same release that turned the standing vacuum on by
    * default also exposed `/snapshots`+`/changes` — an external CDC
    * consumer polling slower than the sweep would permanently lose its
    * diff base under a shallow keep (keep 2 + hourly sweep = a 2-sweep
    * polling budget). 48 sweeps ≈ two days of hourly history: bounded
    * disk still (compacted/retention-dropped files age out in days, not
    * never), while any consumer polling daily keeps its base. Operators
    * wanting tighter reclaim set `vacuum_keep_snapshots` explicitly —
    * documented in README next to the other maintenance keys. */
  val DefaultVacuumKeep = 48

  /** Parse a reference-shaped config file. Read through the Hadoop
    * FileSystem like all store maintenance — the config can live next to
    * the data on `file:`/`hdfs:`/`s3a:`.
    */
  def loadConfig(spark: SparkSession, path: String): Config = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val port = if (node.has("port")) node.get("port").asInt() else DefaultPort
    def perSpace(key: String): Map[String, Int] =
      if (!node.has("spaces")) Map.empty
      else {
        val it = node.get("spaces").fields()
        val b = Map.newBuilder[String, Int]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.has(key)) b += e.getKey -> e.getValue.get(key).asInt()
        }
        b.result()
      }
    // graft extension: top-level `"continuous_ingest": true` switches the
    // facade's /write from the queued group commit to the spooled
    // streaming path (Graft.writeSpooled)
    val continuous = node.has("continuous_ingest") &&
      node.get("continuous_ingest").asBoolean(false)
    // manifest/snapshot storage is the ONLY layout: `"manifest_snapshots":
    // true` (the served default since r14) is accepted and ignored, like
    // the cassandra/elasticsearch blocks; `false` asked for the removed
    // plain bucket-directory layout and must fail loudly — an operator who
    // asks for one layout must not silently get another
    if (node.has("manifest_snapshots") &&
        !node.get("manifest_snapshots").asBoolean(true))
      throw new IllegalArgumentException(
        "config key \"manifest_snapshots\": false is no longer supported — " +
          "the plain bucket-directory layout was removed and manifest/" +
          "snapshot storage is the only layout (an existing plain store is " +
          "adopted on first touch); drop the key or set it to true")
    // graft extension: the standing compaction sweep's cadence and
    // trigger (bucket file count); <= 0 disables the daemon
    val sweepMin = if (node.has("compaction_sweep_minutes"))
      node.get("compaction_sweep_minutes").asInt(60) else 60
    val sweepMaxFiles = if (node.has("compaction_max_files"))
      node.get("compaction_max_files").asInt(8) else 8
    // graft extension: the sweep's rewrite granularity — compacted buckets
    // are split into ceil(bytes / compaction_target_mb) files (r15,
    // VERDICT r14 #6: the trigger was config-exposed but the target size
    // was hard-coded)
    val targetMb = if (node.has("compaction_target_mb"))
      node.get("compaction_target_mb").asInt(128) else 128
    // graft extension: snapshots the standing vacuum retains (the store's
    // physical reclaim — without it a served store's compaction +
    // retention are metadata-only and disk grows without bound); <= 0
    // disables the vacuum half of the maintenance sweep. The default is
    // DEEP (see DefaultVacuumKeep) so external /changes consumers keep
    // their diff base across realistic polling gaps.
    val vacKeep = if (node.has("vacuum_keep_snapshots"))
      node.get("vacuum_keep_snapshots").asInt(DefaultVacuumKeep)
      else DefaultVacuumKeep
    // graft extension: `"search_index": true` serves /search from the
    // CDC-maintained series index (kept fresh by the maintenance sweep —
    // near-real-time like an ES refresh) instead of a per-request
    // distinct-series scan of the store. Opt-in: it trades read-your-
    // writes freshness on /search for probe cost that tracks matching
    // postings rather than store size.
    val searchIdx = node.has("search_index") &&
      node.get("search_index").asBoolean(false)
    // graft extension: the snapshot-claim primitive for multi-writer
    // commits — "auto" picks by filesystem scheme and REFUSES schemes
    // with no known-atomic claim; see Graft.CommitPrimitive
    val commitPrim = if (node.has("commit_primitive"))
      node.get("commit_primitive").asText("auto") else "auto"
    // `index_fold_batches` is accepted and ignored, like the
    // cassandra/elasticsearch blocks: the index folds every
    // CdcIndexSync.FoldBatches sync batches
    Config(port, perSpace("table_granularity_days"), perSpace("keep_days"),
      continuous, sweepMin, sweepMaxFiles, targetMb,
      vacKeep, searchIdx, commitPrim)
  }

  /** Boot a store from the reference's own config file (orestes.js:62 reads
    * conf/orestes-config.json at startup) — a reference operator points
    * their existing file at a store root and gets the same per-space bucket
    * granularities.
    */
  def fromConfig(spark: SparkSession, configPath: String, root: String): Graft = {
    val cfg = loadConfig(spark, configPath)
    new Graft(spark, root,
      spaceGranularity = cfg.spaceGranularity,
      spaceKeepDays = cfg.spaceKeepDays,
      commitPrimitive = cfg.commitPrimitive)
  }

  /** The reference's default facade port (conf/orestes-config.json). */
  val DefaultPort = 9668

  /** The engine-side point-validation rule, in ONE place ([[write]] and
    * [[graft.streaming.IngestStream.validate]]): `points` plus `__time_ms`
    * (epoch millis, null when unparseable) and `__error` (null when the
    * point is valid), in the reference's precedence and error strings
    * (lib/orestes-utils.js:158-182). `time` may be an ISO string or
    * numeric epoch millis, as a number or a string (reference
    * normalize_timestamp, lib/orestes-utils.js:81-88). try_* variants:
    * under ANSI (Spark 4 default) plain casts would throw on one
    * malformed point and fail the whole batch — the contract is
    * per-point errors.
    */
  private[graft] def validated(points: DataFrame, tagCols: Seq[String]): DataFrame = {
    val t = points.schema("time").dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        // try_cast: NaN/Infinity/out-of-range still get per-point errors
        timestamp_millis(expr("try_cast(time AS LONG)"))
      case _ =>
        coalesce(
          try_to_timestamp(col("time").cast("string")),
          timestamp_millis(expr("try_cast(cast(time AS STRING) AS LONG)")))
    }
    points.withColumn("__time_ms", Det.tsMs(t))
      .withColumn("__error",
        when(col("time").isNull || col("__time_ms").isNull, "invalid timestamp")
          .when(col("value").isNull || isnan(col("value")), "invalid value")
          .when(tagCols.map(col(_).isNotNull: Column).reduce(_ || _) === lit(false),
            "metrics must have at least one tag"))
  }

  // ---- driver-side point validation for the queued write path ------------
  //
  // Mirrors write()'s engine-side rules (same precedence, same error
  // strings): unparseable/missing time -> "invalid timestamp"; missing/NaN
  // value -> "invalid value"; no non-null field besides time/value ->
  // "metrics must have at least one tag". The time parse is the Spark
  // path's own — `coalesce(try_to_timestamp(s), timestamp_millis(
  // try_cast(s AS LONG)))` ([[parseTimeString]]) — so both paths accept
  // the same grammar. The queued path also STORES the millis it computes
  // here (the flush job receives numeric time), so accept/store can never
  // disagree.

  private[graft] def validatePoint(p: com.fasterxml.jackson.databind.JsonNode,
                                  zone: java.time.ZoneId): Either[String, Long] = {
    if (p == null || !p.isObject) return Left("invalid point")
    parseTimeMs(p.get("time"), zone) match {
      case None => Left("invalid timestamp")
      case Some(ms) =>
        val v = p.get("value")
        val valueOk = v != null && !v.isNull && {
          if (v.isNumber) !(v.isFloatingPointNumber && v.doubleValue().isNaN)
          else if (v.isTextual) {
            // the engine path casts strings through isnan (accepts the
            // infinities, rejects NaN); Spark's string->double cast also
            // takes the short special literals ("inf"/"+inf"/"-inf",
            // case-insensitive) that Double.parseDouble does not —
            // mirrored here so both write paths accept the same strings.
            // Non-numeric strings would fail the ANSI cast — surfaced
            // here as a per-point error instead.
            val t = v.asText().trim.toLowerCase(java.util.Locale.ROOT)
            if (t == "inf" || t == "+inf" || t == "-inf" ||
                t == "infinity" || t == "+infinity" || t == "-infinity") true
            else scala.util.Try(java.lang.Double.parseDouble(t))
              .toOption.exists(d => !d.isNaN)
          } else false
        }
        if (!valueOk) Left("invalid value")
        else {
          val it = p.fields()
          var hasTag = false
          while (it.hasNext && !hasTag) {
            val e = it.next()
            // WseqCol is reserved (writeQueued overwrites it and write()
            // excludes it from tag discovery) — it must not satisfy the
            // tag requirement, or a tagless point would be acked and then
            // fail the whole flush job's tagCols require
            if (e.getKey != "time" && e.getKey != "value" &&
                e.getKey != WseqCol && !e.getValue.isNull)
              hasTag = true
          }
          if (!hasTag) Left("metrics must have at least one tag") else Right(ms)
        }
    }
  }

  private[graft] def parseTimeMs(t: com.fasterxml.jackson.databind.JsonNode,
                                zone: java.time.ZoneId): Option[Long] =
    if (t == null || t.isNull) None
    else if (t.isIntegralNumber)
      if (t.canConvertToLong) Some(t.longValue()) else None
    else if (t.isFloatingPointNumber) {
      // try_cast(double AS LONG): NaN/Inf/out-of-range -> null; else truncate
      val d = t.doubleValue()
      if (d.isNaN || d.isInfinite || d < Long.MinValue.toDouble ||
          d > Long.MaxValue.toDouble) None
      else Some(d.toLong)
    } else if (t.isTextual) parseTimeString(t.asText(), zone)
    else None

  /** Driver-side `coalesce(try_to_timestamp(s), timestamp_millis(try_cast(
    * s AS LONG)))`: Spark's own string-to-timestamp parser (the one
    * try_to_timestamp and the string cast call, so the queued and direct
    * write paths accept the same grammar by construction), floored to
    * millis as `unix_millis` does, then a bare epoch-millis integer. */
  private[graft] def parseTimeString(s0: String, sessionZone: java.time.ZoneId): Option[Long] = {
    val s = s0.trim
    org.apache.spark.sql.catalyst.util.DateTimeUtils
      .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        sessionZone)
      .map(Math.floorDiv(_, 1000L))
      .orElse(if (s.matches("[+-]?\\d+")) s.toLongOption else None)
  }

  /** Per-batch write-sequence stamp backing last-write-wins overwrites
    * (the reference's Cassandra-upsert semantics); `__`-prefixed so it can
    * never collide with a user tag (write() rejects nothing — tags are
    * arbitrary — but the reference's own normalizer forbids leading
    * underscores in practice, and table() excludes it from tag discovery
    * explicitly either way).
    */
  private[tsdb] val WseqCol = "__wseq"

  // ---- the JSON kinds of queued fields ------------------------------------
  //
  // A queued line is the JSON text Jackson writes for the normalized point,
  // so each field's value reaches `spark.read.json` as one of these token
  // kinds; a flush ORs them per field (Graft.Queued) and, when the union
  // pins one type, passes the schema instead of running the inference job.

  private[graft] val KindString = 1
  private[graft] val KindLong = 2 // an integer that fits a long
  private[graft] val KindDouble = 4 // a finite float
  private[graft] val KindBool = 8
  private[graft] val KindNull = 16
  private[graft] val KindOther = 32 // nested, big or non-finite numbers, …

  private[graft] def jsonKind(v: com.fasterxml.jackson.databind.JsonNode): Int =
    if (v.isNull) KindNull
    else if (v.isTextual) KindString
    else if (v.isBoolean) KindBool
    else if (v.isIntegralNumber) { if (v.canConvertToLong) KindLong else KindOther }
    else if (v.isDouble || v.isFloat) {
      if (java.lang.Double.isFinite(v.doubleValue())) KindDouble else KindOther
    } else KindOther

  /** OR the kind of each field of `line` into `kinds`. */
  private[graft] def addKinds(kinds: scala.collection.mutable.Map[String, Int],
                              line: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val it = line.fields()
    while (it.hasNext) {
      val e = it.next()
      kinds(e.getKey) = kinds.getOrElse(e.getKey, 0) | jsonKind(e.getValue)
    }
  }

  /** The schema `spark.read.json` infers over lines whose fields showed
    * `kinds`, when that is certain: fields sorted by name as inference
    * sorts them, all nullable; string, long, double (long and double
    * together widen to double, as inference widens them) or boolean.
    * None when any field is only ever null (inference's string default),
    * mixes other kinds, holds a nested, big or non-finite number, or has
    * an empty name (inference drops it). */
  private[graft] def inferredJsonSchema(kinds: collection.Map[String, Int])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val fields = kinds.toSeq.sortBy(_._1).map { case (name, k) =>
      val seen = k & ~KindNull
      val t =
        if (seen == KindString) Some(StringType)
        else if (seen == KindLong) Some(LongType)
        else if (seen == KindDouble || seen == (KindLong | KindDouble)) Some(DoubleType)
        else if (seen == KindBool) Some(BooleanType)
        else None
      t.filter(_ => name.nonEmpty).map(StructField(name, _, nullable = true))
    }
    if (fields.forall(_.isDefined)) Some(StructType(fields.flatten)) else None
  }

  /** Per-file tag-dictionary cap: columns with more distinct values in a
    * file record no dictionary (and never prune). */
  private[graft] val DictMax = 32

  /** Stats of one file, or of the rows of one file that one task saw:
    * the `[min, max]` of its non-null `time_ms` (min > max when it saw
    * none) and, per string tag column, the distinct non-null values seen —
    * `None` once more than [[DictMax]] were seen. */
  private[graft] case class FileStats(min: Long, max: Long,
                                      tags: Map[String, Option[Set[String]]]) {
    /** The recorded dictionary: every column still under the cap, values
      * sorted in UTF-8 byte order (Spark's string order). */
    def dicts: Map[String, Seq[String]] = tags.collect { case (c, Some(vs)) =>
      c -> vs.toSeq.map(org.apache.spark.unsafe.types.UTF8String.fromString)
        .sortWith(_.compareTo(_) < 0).map(_.toString)
    }
  }

  /** One file's stats as its rows arrive — the one folding rule, shared
    * by [[foldStats]] and the write tasks' [[WriteStatsTracker]]: holds at
    * most DictMax+1 values per tag, and a set that passes the cap is
    * dropped on the spot and takes no more values. */
  private[tsdb] final class StatsAcc(nTags: Int) {
    private var min = Long.MaxValue
    private var max = Long.MinValue
    private val sets: Array[scala.collection.mutable.HashSet[String]] =
      Array.fill(nTags)(scala.collection.mutable.HashSet.empty[String])

    def time(t: Long): Unit = {
      if (t < min) min = t
      if (t > max) max = t
    }

    /** A non-null value of the `i`-th tag column. */
    def tag(i: Int, v: String): Unit = {
      val s = sets(i)
      if (s != null) {
        s += v
        if (s.size > DictMax) sets(i) = null
      }
    }

    def result(tagCols: Seq[String]): FileStats =
      FileStats(min, max, tagCols.zip(sets).map { case (c, s) =>
        c -> Option(s).map(_.toSet) }.toMap)
  }

  /** One task's pass over `(file, time_ms, tag…)` rows: per-file stats. */
  private[graft] def foldStats(rows: Iterator[org.apache.spark.sql.Row],
                               tagCols: Seq[String]): Iterator[(String, FileStats)] = {
    val byFile = scala.collection.mutable.HashMap.empty[String, StatsAcc]
    rows.foreach { r =>
      val a = byFile.getOrElseUpdate(r.getString(0), new StatsAcc(tagCols.size))
      if (!r.isNullAt(1)) a.time(r.getLong(1))
      var i = 0
      while (i < tagCols.size) {
        if (!r.isNullAt(i + 2)) a.tag(i, r.getString(i + 2))
        i += 1
      }
    }
    byFile.iterator.map { case (f, a) => f -> a.result(tagCols) }
  }

  /** Merge per-task partials into one [[FileStats]] per file: min/max
    * combine, value sets union and are re-capped, and an over-cap partial
    * (or a union past the cap) means no dictionary for that column. A
    * column a partial lacks counts as all-null there. */
  private[graft] def mergeStats(parts: Seq[(String, FileStats)])
      : Map[String, FileStats] = {
    val allNull = Option(Set.empty[String])
    parts.groupMapReduce(_._1)(_._2) { (a, b) =>
      FileStats(math.min(a.min, b.min), math.max(a.max, b.max),
        (a.tags.keySet ++ b.tags.keySet).map { c =>
          c -> (for {
            x <- a.tags.getOrElse(c, allNull)
            y <- b.tags.getOrElse(c, allNull)
            u = x ++ y if u.size <= DictMax
          } yield u)
        }.toMap)
    }
  }

  /** The manifest's two per-file maps from merged per-file stats: the
    * `[min, max]` zone maps and the dictionaries of `tagCols`, the string
    * columns of the schema being committed. A column a file's stats lack
    * was all-null there and records the empty dictionary; a file with no
    * non-null `time_ms` records neither (it is never skipped). */
  private[tsdb] def statsMaps(stats: Map[String, FileStats], tagCols: Seq[String])
      : (Map[String, (Long, Long)], Map[String, Map[String, Seq[String]]]) = {
    val allNull = Option(Set.empty[String])
    val kept = stats.filter { case (_, st) => st.min <= st.max }
    (kept.map { case (p, st) => p -> (st.min, st.max) },
      kept.map { case (p, st) =>
        p -> st.copy(tags = tagCols.map(c => c -> st.tags.getOrElse(c, allNull)).toMap).dicts
      }.filter(_._2.nonEmpty))
  }

  /** Consecutive lost commit-claim races before a manifest commit gives
    * up — far above anything but a pathological committer storm (each
    * loss means another PROCESS landed a commit in the window). */
  private[tsdb] val MaxCommitRetries = 50
}
