package graft.tsdb

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
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
  /** One written file: its path relative from `bucket_day=` (its name
    * alone in an unpartitioned write), its size and its stats. */
  final case class WrittenFile(rel: String, size: Long, stats: FileStats)

  private final case class Written(files: Seq[WrittenFile]) extends WriteTaskStats

  /** The committer moves a task's files from its attempt dir to the
    * output dir keeping everything below it, so the part from
    * `bucket_day=` on (or the bare name) names the committed file. */
  private def relative(taskPath: String): String = {
    val i = taskPath.lastIndexOf("bucket_day=")
    if (i >= 0) taskPath.substring(i) else new HPath(taskPath).getName
  }
}
