package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Everything one run shares: options, the session, the tracer, the Spark
  * probe and the result being filled. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path, val data: String,
                val spark: SparkSession) {
  val tracer = new Tracer(traced)
  val probe = new SparkProbe
  val result = new Result(workload)
  spark.sparkContext.addSparkListener(probe)

  /** Wall seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap still in use after a full collection, in MiB. */
  def heapAfterGc(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Run `clients` threads, each calling `op(client, rnd)` until the
    * deadline; an exception escaping `op` counts as a failed operation. */
  def closedLoop(clients: Int, secs: Double)(op: (Int, scala.util.Random) => Unit): Double = {
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    val t0 = System.nanoTime()
    val ts = (0 until clients).map { c =>
      val th = new Thread(() => {
        val rnd = new scala.util.Random(seed * 7919 + c)
        while (System.nanoTime() < deadline)
          try op(c, rnd)
          catch { case e: Throwable => result.check(Some(s"client $c: $e")) }
      }, s"graftbench-client-$c")
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Layer metrics every traced run reports, over its timed phase: Spark
    * work per operation (`d` = counters accrued during the phase), GC,
    * spill and storage memory, and self time per layer from the spans. */
  def phaseLayers(d: Agg, ops: Long): Unit = {
    val r = result
    val n = math.max(1L, ops).toDouble
    r.layerMetric("spark.jobs_per_op", d.jobs.get / n, "count")
    r.layerMetric("spark.tasks_per_op", d.tasks.get / n, "count")
    r.layerMetric("spark.input_bytes_per_op", d.inputBytes.get / n, "bytes")
    r.layerMetric("spark.shuffle_bytes_per_op", d.shuffleBytes.get / n, "bytes")
    r.layerMetric("spark.task_wait_s", d.taskWait, "s")
    r.layerMetric("spark.gc_s", d.gcMs.get / 1000.0, "s")
    r.layerMetric("spark.spill_bytes", probe.spillBytes.get.toDouble, "bytes")
    val mem = spark.sparkContext.getExecutorMemoryStatus.values
    r.layerMetric("spark.storage_mem_mb",
      mem.map { case (max, free) => max - free }.sum / (1024.0 * 1024.0), "MiB")
    tracer.selfSeconds.foreach { case (layer, s) => r.layerMetric(s"self.$layer.s", s, "s") }
  }
}

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE [--data SFDIR]` — runs one workload in this
  * process and writes its result as JSON to FILE (spans, when traced, to
  * DIR/trace.jsonl). */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "dashboard_reads" -> Dashboard.run,
    "bulk_ingest" -> Ingest.bulk,
    "ingest_with_reads" -> Ingest.withReads,
    "batch_analytics" -> Batch.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    // the serving session ServerMain.main builds, pointed inside the run dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .appName(s"graftbench-$workload")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(workload, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
      work, opts.getOrElse("data", ""), spark)
    ctx.result.info("jvm_start_to_session_s") =
      f"${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f"
    try run(ctx)
    catch { case e: Throwable =>
      e.printStackTrace()
      ctx.result.fail(s"workload aborted: $e")
    }
    if (ctx.traced) ctx.tracer.write(work.resolve("trace.jsonl"))
    Files.write(Paths.get(opts("out")), ctx.result.toJson.getBytes("UTF-8"))
    spark.stop()
    // HTTP server and client pools are not all daemon threads
    System.exit(0)
  }
}
