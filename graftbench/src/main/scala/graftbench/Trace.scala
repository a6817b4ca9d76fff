package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer's public function. `parent` is the id of
  * the enclosing span (0 for a request root), `req` the request id. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out as JSON lines when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span of `layer` under `parent`. */
  def span[T](name: String, layer: String, req: Long, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally record(Span(id, parent, req, name, layer, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: seconds spent in it excluding child spans, averaged over
    * the requests that entered it. Request roots (layer "request") are
    * left out — their time is their children's. */
  def selfSeconds: Map[String, Double] = {
    val xs = all
    val childTime = xs.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    xs.filter(_.layer != "request").groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.dur - childTime.getOrElse(s.id, 0.0)).sum / ss.map(_.req).distinct.size
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark counters for one job group, or for the whole session. */
final class Agg {
  val jobs, tasks, inputBytes, shuffleBytes, waitNs, waitN, gcMs = new AtomicLong()
  private def fields = Seq(jobs, tasks, inputBytes, shuffleBytes, waitNs, waitN, gcMs)
  def add(o: Agg, sign: Int): Unit =
    fields.zip(o.fields).foreach { case (a, b) => a.addAndGet(sign * b.get) }
  /** This minus an earlier snapshot. */
  def since(earlier: Agg): Agg = { val d = new Agg; d.add(this, 1); d.add(earlier, -1); d }
  /** Mean seconds from stage submission to task launch. */
  def taskWait: Double = if (waitN.get == 0) 0.0 else waitNs.get / 1e9 / waitN.get
}

/** Spark-side counters, registered through the public SparkContext
  * listener API. Jobs are attributed to the job group of the thread that
  * launched them (the benchmark's own replay calls set one per request);
  * GC, spill and job/task totals are also kept for the whole session. */
final class SparkProbe extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** Every job of the session, whatever launched it. */
  val all = new Agg
  val spillBytes = new AtomicLong()

  def agg(group: String): Agg = groups.computeIfAbsent(group, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    all.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      agg(g).jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmit.put(si.stageId, si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val sub = stageSubmit.getOrDefault(e.stageId, 0L)
    if (sub != 0L) {
      val waitNs = math.max(0L, e.taskInfo.launchTime - sub) * 1000000L
      (Seq(all) ++ Option(stageGroup.get(e.stageId)).map(agg)).foreach { a =>
        a.waitNs.addAndGet(waitNs)
        a.waitN.incrementAndGet()
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      all.gcMs.addAndGet(m.jvmGCTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      (Seq(all) ++ Option(stageGroup.get(e.stageId)).map(agg)).foreach { a =>
        a.tasks.incrementAndGet()
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        a.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Listener events arrive asynchronously; wait until the totals stop
    * moving before reading them. */
  def settle(): Unit = {
    var last = -1L
    var n = 0
    while (n < 50 && all.tasks.get != last) {
      last = all.tasks.get; Thread.sleep(100); n += 1
    }
  }

  /** Sum over every group whose name starts with `prefix`. */
  def sum(prefix: String): Agg = {
    val out = new Agg
    groups.asScala.foreach { case (g, a) => if (g.startsWith(prefix)) out.add(a, 1) }
    out
  }

  /** A copy of the session-wide counters, to difference across a phase. */
  def snapshot(): Agg = { val c = new Agg; c.add(all, 1); c }
}
