package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate -> one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  /** A pre-manifest store on disk, written with plain Spark: `points`
    * (`time` ISO string, `value`, tag columns) land as tags + `time_ms` +
    * `value` + a `__wseq` stamp under `<root>/<space>/bucket_day=<d>/`,
    * with no snapshot — the layout releases that predate manifests leave
    * behind, which a store adopts on first touch. */
  def writeLegacyStore(root: String, points: DataFrame,
                       space: String = "default",
                       granularityDays: Int = graft.tsdb.Tsdb.GranularityDays): Unit = {
    val ms = unix_millis(to_timestamp(col("time")))
    val tags = points.columns.filterNot(c => c == "time" || c == "value")
    points.select(tags.map(col) ++ Seq(ms.as("time_ms"),
        col("value").cast("double").as("value"), lit(1L).as("__wseq"),
        graft.tsdb.Tsdb.bucketOf(ms, granularityDays).as("bucket_day")): _*)
      .write.mode("append").partitionBy("bucket_day").parquet(s"$root/$space")
  }
}

/** A call run on its own thread — the competing index maintainer a spec
  * starts from inside another maintainer's commit window. */
final class Competitor private (body: () => Any) {
  private val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
  private val thread = new Thread(() =>
    try body() catch { case e: Throwable => err.set(e) })
  thread.start()

  def running: Boolean = thread.isAlive

  /** Wait for the call to finish; what it threw, if anything. */
  def failure: Option[Throwable] = { thread.join(); Option(err.get()) }

  /** Wait for the call to finish, rethrowing what it threw. */
  def join(): Unit = failure.foreach(e => throw e)
}
object Competitor {
  def apply(body: => Any): Competitor = new Competitor(() => body)
}
