package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** What one run reports: end-to-end metrics (each with its sample count),
  * per-layer metrics, and the correctness tally — every operation checked
  * against the generator's model counts in `attempted`, every mismatch or
  * error in `failed`. */
final class Result(val workload: String) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val firstFailures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Record one checked operation; `problem` is None when it matched. */
  def check(problem: Option[String]): Unit = {
    attempted.incrementAndGet()
    problem.foreach(fail)
  }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    firstFailures.synchronized {
      if (firstFailures.size < 20) firstFailures += msg
    }
    System.err.println(s"[graftbench] FAIL $msg")
  }

  def failures: Seq[String] = firstFailures.synchronized(firstFailures.toSeq)

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    e2e(name) = (value, unit, n)

  /** Median and (when there are enough samples beyond it) p95 of a sample
    * set, under `<prefix>_p50_s` / `<prefix>_p95_s`. */
  def latency(prefix: String, xs: Seq[Double], tail: Boolean = true): Unit =
    if (xs.nonEmpty) {
      val s = Stats.sorted(xs)
      metric(s"${prefix}_p50_s", Stats.median(xs), "s", s.length)
      if (tail && Stats.tailOk(s.length, 0.95))
        metric(s"${prefix}_p95_s", Stats.pct(s, 0.95), "s", s.length)
    }

  def layerMetric(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  def toJson: String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", workload)
    root.put("correct", failed.get == 0 && attempted.get > 0)
    root.put("attempted", attempted.get)
    root.put("failed", failed.get)
    val fs = root.putArray("failures")
    failures.foreach(fs.add)
    val e = root.putObject("e2e")
    e2e.foreach { case (k, (v, u, n)) =>
      val o = e.putObject(k); o.put("value", v); o.put("unit", u); o.put("n", n)
    }
    val l = root.putObject("per_layer")
    layer.foreach { case (k, (v, u)) =>
      val o = l.putObject(k); o.put("value", v); o.put("unit", u)
    }
    val i = root.putObject("info")
    info.foreach { case (k, v) => i.put(k, v) }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}
