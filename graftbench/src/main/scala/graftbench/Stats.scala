package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Order statistics over latency samples. */
object Stats {
  def sorted(xs: Iterable[Double]): Array[Double] = xs.toArray.sorted

  /** Nearest-rank percentile of an ascending array (`p` in (0, 1]). */
  def pct(s: Array[Double], p: Double): Double =
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))

  def median(xs: Iterable[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A tail percentile is only reported when at least 10 samples lie
    * beyond it — fewer would make p95 the max of a handful. */
  def tailOk(n: Int, p: Double): Boolean = n * (1 - p) >= 10
}

/** Thread-safe latency samples keyed by operation kind. */
final class Samples {
  private val m = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  def add(kind: String, v: Double): Unit =
    m.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def get(kind: String): Seq[Double] =
    Option(m.get(kind)).map(_.asScala.toSeq).getOrElse(Nil)
  def kinds: Seq[String] = m.keySet().asScala.toSeq.sorted
}
