package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.util.concurrent.ConcurrentSkipListMap
import scala.jdk.CollectionConverters._

/** One series: three string tags. `host` is `h000`..; four metrics per
  * host; the region follows from the host. */
final case class Series(idx: Int, host: String, metric: String, region: String) {
  def tag(k: String): String = k match {
    case "host" => host
    case "metric" => metric
    case "region" => region
    case _ => null
  }
  def key: String = s"$host|$metric|$region"
}

object Series {
  val Metrics: Vector[String] = Vector("cpu", "mem", "disk", "net")
  val Regions = 5
  def apply(i: Int): Series = {
    val h = i / Metrics.size
    Series(i, f"h$h%03d", Metrics(i % Metrics.size), s"r${h % Regions}")
  }
  def keyOf(tags: JsonNode): String =
    Seq("host", "metric", "region").map(k =>
      Option(tags.get(k)).map(_.asText()).orNull).mkString("|")
}

/** The ES filter shapes the dashboard sends, with the generator's own
  * evaluation of each — the model the responses are checked against. */
sealed trait Filter {
  def json: String
  def matches(s: Series): Boolean
}
object Filter {
  private def q(s: String) = "\"" + s + "\""
  case object All extends Filter {
    def json = """{"match_all":{}}"""
    def matches(s: Series) = true
  }
  final case class Term(f: String, v: String) extends Filter {
    def json = s"""{"term":{${q(f)}:${q(v)}}}"""
    def matches(s: Series) = s.tag(f) == v
  }
  final case class Terms(f: String, vs: Seq[String]) extends Filter {
    def json = s"""{"terms":{${q(f)}:${vs.map(q).mkString("[", ",", "]")}}}"""
    def matches(s: Series) = vs.contains(s.tag(f))
  }
  final case class Prefix(f: String, p: String) extends Filter {
    def json = s"""{"prefix":{${q(f)}:${q(p)}}}"""
    def matches(s: Series) = Option(s.tag(f)).exists(_.startsWith(p))
  }
  /** `?` = one character, `*` = any run (no other metacharacters used). */
  final case class Wildcard(f: String, p: String) extends Filter {
    def json = s"""{"wildcard":{${q(f)}:${q(p)}}}"""
    private val re = p.flatMap {
      case '*' => ".*"; case '?' => "."; case c => java.util.regex.Pattern.quote(c.toString)
    }.r
    def matches(s: Series) = Option(s.tag(f)).exists(v => re.matches(v))
  }
  final case class Must(fs: Seq[Filter]) extends Filter {
    def json = s"""{"bool":{"must":${fs.map(_.json).mkString("[", ",", "]")}}}"""
    def matches(s: Series) = fs.forall(_.matches(s))
  }
}

/** The generator's model of the store: every acked point per series.
  * Thread-safe: the ingest workloads add points while readers check. */
final class Model(val nSeries: Int) {
  val series: Vector[Series] = Vector.tabulate(nSeries)(Series(_))
  val nHosts: Int = nSeries / Series.Metrics.size
  private val pts = Vector.fill(nSeries)(new ConcurrentSkipListMap[java.lang.Long, java.lang.Double]())
  private val total = new java.util.concurrent.atomic.AtomicLong()

  def add(s: Int, t: Long, v: Double): Unit =
    if (pts(s).put(t, v) == null) total.incrementAndGet()
  def points: Long = total.get

  def window(s: Int, start: Long, end: Long): Seq[(Long, Double)] =
    pts(s).subMap(start, true, end, false).entrySet().asScala.toSeq
      .map(e => (e.getKey.longValue, e.getValue.doubleValue))

  def countIn(s: Int, start: Long, end: Long): Int =
    pts(s).subMap(start, true, end, false).size()

  def host(h: Int): String = f"h$h%03d"
}

/** Checks of facade responses against the model. Each returns None when
  * the response matches, or a one-line description of the mismatch. */
object Check {
  private val mapper = new ObjectMapper()
  def parse(b: Array[Byte]): JsonNode = mapper.readTree(b)

  private def seriesArr(n: JsonNode): Seq[JsonNode] = {
    val a = n.get("series")
    if (a == null || !a.isArray) throw new IllegalStateException(
      s"no series array in response: ${n.toString.take(200)}")
    (0 until a.size()).map(a.get)
  }

  /** /read: exactly the matching series with points in the window, and
    * exactly their points and values. */
  def read(m: Model, f: Filter, start: Long, end: Long, body: JsonNode): Option[String] = {
    val want = m.series.filter(f.matches)
      .map(s => s.key -> m.window(s.idx, start, end)).filter(_._2.nonEmpty).toMap
    val got = seriesArr(body).map { e =>
      val p = e.get("points")
      Series.keyOf(e.get("tags")) ->
        (0 until p.size()).map(i => (p.get(i).get(0).asLong(), p.get(i).get(1).asDouble()))
    }.toMap
    if (got.keySet != want.keySet)
      Some(s"read ${f.json} [$start,$end): series ${got.size} vs model ${want.size}")
    else want.collectFirst {
      case (k, w) if got(k) != w =>
        s"read ${f.json} [$start,$end): $k has ${got(k).size} points vs model ${w.size}"
    }
  }

  /** /read of a just-written window during ingest: every returned point
    * must be one the generator wrote (missing ones may still be in flight). */
  def readSubset(m: Model, f: Filter, start: Long, end: Long, body: JsonNode): Option[String] = {
    val want = m.series.filter(f.matches).map(s => s.key -> m.window(s.idx, start, end).toMap).toMap
    seriesArr(body).iterator.flatMap { e =>
      val k = Series.keyOf(e.get("tags"))
      val w = want.getOrElse(k, Map.empty[Long, Double])
      val p = e.get("points")
      (0 until p.size()).iterator.collect {
        case i if !w.get(p.get(i).get(0).asLong()).contains(p.get(i).get(1).asDouble()) =>
          s"read ${f.json}: point ${p.get(i)} of $k was never written"
      }
    }.nextOption()
  }

  /** /count: per-series counts equal the model's, and so does their sum. */
  def count(m: Model, f: Filter, start: Long, end: Long, body: JsonNode): Option[String] = {
    val want = m.series.filter(f.matches)
      .map(s => s.key -> m.countIn(s.idx, start, end).toLong).filter(_._2 > 0).toMap
    val got = seriesArr(body).map(e => Series.keyOf(e.get("tags")) -> e.get("count").asLong()).toMap
    if (got != want)
      Some(s"count ${f.json}: sum ${got.values.sum} over ${got.size} series vs model " +
        s"${want.values.sum} over ${want.size}")
    else None
  }

  /** /series: the distinct tag sets with data in range. */
  def seriesList(m: Model, f: Filter, start: Long, end: Long, body: JsonNode): Option[String] = {
    val want = m.series.filter(s => f.matches(s) && m.countIn(s.idx, start, end) > 0).map(_.key).toSet
    val got = seriesArr(body).map(Series.keyOf).toSet
    if (got != want) Some(s"series ${f.json}: ${got.size} vs model ${want.size}") else None
  }

  /** /select_distinct: the distinct values of `keys` over matching series. */
  def distinct(m: Model, keys: Seq[String], f: Filter, body: JsonNode): Option[String] = {
    val want = m.series.filter(f.matches).map(s => keys.map(s.tag)).toSet
    val got = (0 until body.size()).map(i => keys.map(k => body.get(i).get(k).asText())).toSet
    if (got != want) Some(s"select_distinct $keys ${f.json}: ${got.size} vs model ${want.size}")
    else None
  }

  /** /search for host tokens: every series of those hosts, nothing else
    * (the benchmark keeps matches below k, so the hit set is exact). */
  def search(m: Model, hosts: Seq[String], source: String, body: JsonNode): Option[String] =
    if (source != "index") Some(s"search ${hosts.mkString(" ")}: served by '$source', not the index")
    else {
      val want = m.series.filter(s => hosts.contains(s.host)).map(_.key).toSet
      val got = seriesArr(body).map(Series.keyOf).toSet
      if (got != want) Some(s"search ${hosts.mkString(" ")}: ${got.size} hits vs model ${want.size}")
      else None
    }
}
