package graft.tsdb

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import graft.tsdb.Graft.{FileStats, StatsAcc}

/** The manifest's per-file stats gathered inside the write job itself
  * (Delta Lake's `DeltaJobStatisticsTracker`; Structured Streaming's file
  * sink likewise takes its file list from the tasks, not from a listing).
  * Each write task folds the rows it writes into per-file state with
  * [[Graft.foldStats]]' rule and reports every file it wrote with its
  * size; the driver side keeps the committed tasks' reports, so one job
  * both writes the files and yields their zone maps, tag dictionaries and
  * the exact file list.
  *
  * `dataCols` are the columns of the rows the files hold, in order (the
  * frame's columns minus the partition columns); `tagCols` the string
  * columns among them that record dictionaries.
  */
private[tsdb] final class WriteStatsTracker(dataCols: Seq[String],
                                            tagCols: Seq[String],
                                            hadoopConf: () => Configuration)
    extends WriteJobStatsTracker {
  import WriteStatsTracker._

  private val timeIdx = dataCols.indexOf("time_ms")
  private val tagIdx = tagCols.map(dataCols.indexOf).toArray
  require(timeIdx >= 0 && !tagIdx.contains(-1),
    s"write stats: columns ${(tagCols :+ "time_ms").mkString(", ")} " +
      s"not all among ${dataCols.mkString(", ")}")

  @transient private var reported: Seq[WrittenFile] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    reported = stats.flatMap { case Written(files) => files }

  /** Every file the committed job wrote, once the write has returned. */
  def written: Seq[WrittenFile] = reported

  private final class TaskTracker extends WriteTaskStatsTracker {
    private val files = scala.collection.mutable.LinkedHashMap.empty[String, StatsAcc]
    private val sizes = scala.collection.mutable.HashMap.empty[String, Long]
    private var curPath: String = _
    private var cur: StatsAcc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit =
      files.getOrElseUpdate(filePath, new StatsAcc(tagIdx.length))

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath != curPath) {
        curPath = filePath
        cur = files.getOrElseUpdate(filePath, new StatsAcc(tagIdx.length))
      }
      if (!row.isNullAt(timeIdx)) cur.time(row.getLong(timeIdx))
      var i = 0
      while (i < tagIdx.length) {
        if (!row.isNullAt(tagIdx(i))) cur.tag(i, row.getUTF8String(tagIdx(i)).toString)
        i += 1
      }
    }

    override def closeFile(filePath: String): Unit = {
      val p = new HPath(filePath)
      sizes(filePath) = p.getFileSystem(hadoopConf()).getFileStatus(p).getLen
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      Written(files.toSeq.map { case (p, acc) =>
        WrittenFile(relative(p), sizes(p), acc.result(tagCols)) })
  }
}

private[tsdb] object WriteStatsTracker {
  /** One written file: its path relative from `bucket_day=` (its
    * manifest path), its size and its stats. */
  final case class WrittenFile(rel: String, size: Long, stats: FileStats)

  private final case class Written(files: Seq[WrittenFile]) extends WriteTaskStats

  /** A task writes each file at its final path ([[DirectCommitProtocol]]),
    * so the part from `bucket_day=` on — the partition dir of an append,
    * or the output dir itself when a compaction writes one bucket — names
    * the committed file. */
  private def relative(taskPath: String): String = {
    val i = taskPath.lastIndexOf("bucket_day=")
    require(i >= 0, s"write stats: $taskPath is in no bucket dir")
    taskPath.substring(i)
  }
}

/** The write job's commit protocol: each task writes its files straight to
  * their final names under `path`, `<prefix>-part-<split>-<attempt>-<job>`
  * plus Spark's suffix — no `_temporary` attempt dir, no task-commit or
  * job-commit rename, nothing for the caller to move. Structured
  * Streaming's `ManifestFileCommitProtocol` is the model: a file is
  * written once at a unique name, and the manifest commit that follows
  * the job is the commit point, so a file no snapshot names is invisible
  * and [[Graft.vacuum]] reclaims it once past the orphan grace.
  *
  * The name carries the job id and the task attempt, so a retried or
  * speculative attempt never writes over another attempt's file. A task
  * commit reports the files its attempt wrote; a task abort deletes them;
  * a job abort deletes every file its committed tasks reported.
  */
private[graft] final class DirectCommitProtocol(path: String, prefix: String)
    extends FileCommitProtocol with Serializable {
  private val jobId = java.util.UUID.randomUUID().toString
  // driver side: the files of the committed tasks
  @transient private var committed = Vector.empty[String]
  // task side: the files this attempt opened
  @transient private var opened: Vector[String] = _

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = ()

  override def abortJob(jobContext: JobContext): Unit =
    deleteAll(committed, jobContext.getConfiguration)

  override def onTaskCommit(taskCommit: TaskCommitMessage): Unit =
    committed ++= taskCommit.obj.asInstanceOf[Seq[String]]

  override def setupTask(taskContext: TaskAttemptContext): Unit = opened = Vector.empty

  override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
                               spec: FileNameSpec): String = {
    require(spec.prefix.isEmpty, s"direct commit: unsupported file prefix ${spec.prefix}")
    val attempt = taskContext.getTaskAttemptID
    val name = f"$prefix-part-${attempt.getTaskID.getId}%05d-${attempt.getId}-$jobId${spec.suffix}"
    val file = new HPath(dir.fold(new HPath(path))(new HPath(path, _)), name).toString
    opened :+= file
    file
  }

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(opened)

  override def abortTask(taskContext: TaskAttemptContext): Unit =
    deleteAll(opened, taskContext.getConfiguration)

  /** Best effort, like Spark's own aborts: the failure that caused the
    * abort is what the caller must see, and a file left behind is an
    * unreferenced orphan that vacuum reclaims. */
  private def deleteAll(files: Seq[String], conf: Configuration): Unit =
    files.foreach { f =>
      val p = new HPath(f)
      try p.getFileSystem(conf).delete(p, false)
      catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"direct commit: could not delete $p", e)
      }
    }
}

private[graft] object DirectCommitProtocol {
  /** An append job's name prefix, unique per job. */
  def appendPrefix(): String = s"a${Graft.nonce()}"

  /** A compaction's name prefix: its generation. */
  def compactionPrefix(gen: Long): String = s"c$gen"

  /** Whether a data file's name is one this protocol gives under those
    * prefixes. Releases that predate manifests wrote Spark's own `part-…`
    * names. */
  def wrote(name: String): Boolean = Named.matches(name)
  private val Named = "(a[0-9a-z]+|c[0-9]+)-part-.*".r
}
