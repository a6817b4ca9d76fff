package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Session-scoped "train or index once, query many" artifacts: trained ANN
  * codebooks and inverted files, the shingle/band/signature tables, BM25
  * postings and doc lengths, LM tables, trained weight vectors. At
  * 100 TB these are stored artifacts every consumer probes, not per-query
  * recomputations; the registry models that shape in one session.
  *
  * One registry, keyed by `applicationId|key`: every consumer in a session
  * shares one materialized instance, and entries of dead applications are
  * evicted on every access (a dead app's checkpoint blocks are gone with
  * its executors; multi-session test and bench JVMs must not pin them).
  *
  * Boundary: nothing result-shaped or keyed on query parameters enters the
  * registry — a key names a corpus and the artifact's own training
  * parameters only — and the persisted tier holds only train-once
  * artifacts, each with its production analog (a stored codebook, an
  * inverted file, a code table).
  *
  * Why not `.cache()`: a cache entry lives in the session's CacheManager
  * until someone clears it, outliving the query that made it, and any
  * `clearCache()` (the bench runs one between queries) silently turns every
  * later consumer back into a per-plan-reference recomputation. Why not a
  * per-call `.localCheckpoint(true)`: checkpoint identity is the DataFrame
  * instance, so every consumer would re-materialize the pipeline. Artifacts
  * are eager local checkpoints — self-contained blocks, freed when the
  * frame is GC'd — and the registry deduplicates the instances.
  */
object Artifact {

  /** How an artifact is partitioned when it is materialized; the partition
    * count comes from [[partitions]].
    *
    * Spreading helps artifacts whose consumers do heavy per-row fan-out
    * (self-join probe streams, chunk explodes, broadcast-nested-loop sides,
    * million-row shingle/gram tables): one built from a single small parquet
    * file, or through a shuffle AQE coalesced by bytes, checkpoints as ONE
    * partition, and every consumer's map-side stage then runs
    * single-threaded (measured: 1-task 1.3–2.3 s stages under
    * dedup_containment, simhash and embedding pairs). Spreading hurts small
    * shuffle-derived tables with light consumers (band rows, winnowing
    * fingerprints, LLR tables): AQE's byte sizing was already right, and
    * width-many tiny tasks per consumer stage cost more than the serial scan
    * they replace (dedup_winnowing 0.34 → 1.06 s when over-spread).
    */
  sealed trait Layout
  object Layout {
    /** No repartition: the partitioning the build produced. A build that
      * already returns a checkpoint (training loops checkpoint per round)
      * is stored as is. */
    case object AsBuilt extends Layout
    /** Executor width — artifacts with heavy fan-out consumers. */
    case object Wide extends Layout
    /** Width/`div`, hash-partitioned on `keys`, with the layout recorded
      * on the checkpoint: consumers keyed the same way (inverted-index
      * self-joins, groupBys on the key, co-partitioned probe joins) plan
      * zero exchanges over it. The count is explicit because an un-numbered
      * repartition is AQE-coalescible, and a byte-coalesced artifact is the
      * one-partition case above. */
    final case class Hashed(div: Int, keys: String*) extends Layout
    /** No repartition, with the plan's hash layout recorded on the
      * checkpoint — for per-key aggregates of a [[Hashed]] artifact. */
    case object KeepHash extends Layout
    /** Sized by work: `rows × fanout` cells at about `cellsPerTask` per
      * task, so a 2 000-row vector table stops scheduling width-many
      * near-empty tasks per probe stage while the same code saturates any
      * cluster once rows grow. Costs one count at build time. */
    final case class ByWork(fanout: Long, cellsPerTask: Long = 65536L) extends Layout
  }
  import Layout._

  /** The one sizing rule: the partition count `layout` asks for on an
    * executor pool `width` wide, clamped to [2, width] in Long arithmetic
    * (`rows × fanout` saturates, so a huge artifact means "as wide as the
    * executors", never a wrapped Int). None keeps the frame's own
    * partitioning. `rows` is evaluated only by [[Layout.ByWork]].
    */
  def partitions(layout: Layout, width: Int, rows: => Long): Option[Int] = {
    val target: Option[Long] = layout match {
      case Wide => Some(width.toLong)
      case h: Hashed => Some(width.toLong / h.div.max(1))
      case ByWork(fanout, cellsPerTask) =>
        val cells =
          try Math.multiplyExact(rows.max(1L), fanout.max(1L))
          catch { case _: ArithmeticException => Long.MaxValue }
        Some(cells / cellsPerTask.max(1L))
      case AsBuilt | KeepHash => None
    }
    target.map(t => math.min(width.toLong, math.max(2L, t)).toInt)
  }

  /** Materialize `df` under `layout` as an eager local checkpoint. The
    * layout-keeping variants plan the checkpoint without adaptive execution
    * (under AQE the checkpoint records UnknownPartitioning and every keyed
    * consumer re-exchanges the artifact) and never write the session's
    * conf, so concurrent queries on a shared serving session keep AQE.
    */
  def materialize(df: DataFrame, layout: Layout): DataFrame = {
    val n = partitions(layout, df.sparkSession.sparkContext.defaultParallelism, df.count())
    layout match {
      case AsBuilt if df.queryExecution.logical.isInstanceOf[LogicalRDD] => df
      case AsBuilt => df.localCheckpoint(true)
      case KeepHash => GraftSqlBridge.localCheckpointKeepingLayout(df)
      case h: Hashed =>
        GraftSqlBridge.localCheckpointKeepingLayout(df.repartition(n.get, h.keys.map(col): _*))
      case Wide | _: ByWork => df.repartition(n.get).localCheckpoint(true)
    }
  }

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The registry itself: `build` once per (application, key), shared by
    * every later caller. Also holds plain values (trained weight vectors).
    */
  def value[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    val prefix = s.sparkContext.applicationId + "|"
    registry.keySet().removeIf(k => !k.startsWith(prefix))
    val k = prefix + key
    registry.get(k) match {
      case null =>
        // build OUTSIDE the map lock: build functions resolve their own input
        // artifacts, and a nested computeIfAbsent on one map throws
        // "Recursive update" when two keys share a bin. The race costs a
        // rare duplicate build (deterministic, same result).
        val built = build
        registry.putIfAbsent(k, built) match {
          case null => built
          case prev => prev.asInstanceOf[T]
        }
      case v => v.asInstanceOf[T]
    }
  }

  /** The artifact `key`, materialized under `layout` on first use. With
    * `persistOver = Some(dataDir)` it also has a PERSISTED tier: on an
    * in-session miss an artifact written by any earlier session for the
    * same key and the same data is loaded from parquet instead of rebuilt,
    * and a first-ever build writes it. The persisted key folds in the
    * length and mtime of every data file under `dataDir`, so a dataset
    * regenerated at the same path never serves a stale artifact. Builds
    * are deterministic and parquet stores doubles bit-exactly, so a loaded
    * artifact equals a built one; it is materialized under the same layout.
    */
  def build(s: SparkSession, key: String, layout: Layout = AsBuilt,
            persistOver: Option[String] = None)(body: => DataFrame): DataFrame =
    value(s, key) {
      persistOver match {
        case None => materialize(body, layout)
        case Some(dataDir) => persisted(s, key, dataDir, layout, body)
      }
    }

  /** Bump when a persisted artifact's shape or values change: files of an
    * older format must not be loaded. */
  val FormatVersion = "v1"

  private def persistedDir: String =
    sys.env.getOrElse("GRAFT_CODEBOOK_DIR",
      s"${sys.props("java.io.tmpdir")}/graft-codebooks-$FormatVersion")

  private def persisted(s: SparkSession, key: String, dataDir: String,
                        layout: Layout, body: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val hadoopConf = s.sparkContext.hadoopConfiguration
    val file = md5(key + "|" + fingerprint(new Path(dataDir), hadoopConf))
    val path = new Path(s"$persistedDir/$file.parquet")
    // _SUCCESS gates against a half-written artifact from a dead writer
    if (path.getFileSystem(hadoopConf).exists(new Path(path, "_SUCCESS")))
      materialize(s.read.parquet(path.toString), layout)
    else {
      val built = materialize(body, layout)
      try built.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path.toString)
      catch { case scala.util.control.NonFatal(_) => () } // read-only dir: in-session only
      built
    }
  }

  /** Length and mtime of every data file under `dir` (names starting with
    * `_` or `.` are metadata), in path order. */
  private def fingerprint(dir: org.apache.hadoop.fs.Path,
                          conf: org.apache.hadoop.conf.Configuration): String = {
    val it = dir.getFileSystem(conf).listFiles(dir, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toSeq.sorted
    files.mkString("\n")
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Drop this application's in-session entries whose key mentions
    * `dataDir` — the next use rebuilds them, or loads the persisted tier. */
  private[graft] def forget(s: SparkSession, dataDir: String): Unit = {
    val prefix = s.sparkContext.applicationId + "|"
    registry.keySet().removeIf(k => k.startsWith(prefix) && k.contains(dataDir))
  }
}
