package graftbench

import com.fasterxml.jackson.databind.JsonNode
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Random
import graft.http.{GraftHttpServer, ServerMain}
import graft.streaming.CdcIndexSync
import graft.tsdb.{EsFilter, Graft}

/** One HTTP exchange as the client saw it: time to response headers and
  * total time until the last body byte. */
final case class Resp(status: Int, body: Array[Byte], source: String,
                      ttfb: Double, total: Double)

/** A loopback HTTP/1.1 client, one per benchmark thread. */
final class Client(port: Int) {
  private val hc = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def post(path: String, body: String): Resp = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val t0 = System.nanoTime()
    val r = hc.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val t1 = System.nanoTime()
    val bytes = r.body().readAllBytes()
    val t2 = System.nanoTime()
    Resp(r.statusCode(), bytes, r.headers().firstValue("X-Graft-Search-Source").orElse(""),
      (t1 - t0) / 1e9, (t2 - t0) / 1e9)
  }
}

/** A served store: the facade booted through `ServerMain.boot` with a
  * config the benchmark writes. */
final case class Served(g: Graft, srv: GraftHttpServer, port: Int, root: String) {
  def idxDir: String = s"$root/.search-index/default"
  def stop(): Unit = {
    srv.stop()
    g.stopContinuous()
  }
}

object Served {
  def boot(spark: SparkSession, dir: java.nio.file.Path, config: String): Served = {
    java.nio.file.Files.createDirectories(dir)
    val cfg = dir.resolve("graft-config.json")
    java.nio.file.Files.write(cfg, config.getBytes(StandardCharsets.UTF_8))
    val root = dir.resolve("store").toString
    val (g, srv, _) = ServerMain.boot(spark, cfg.toString, root)
    Served(g, srv, srv.start(), root)
  }

  val Schema: StructType = StructType(Seq(
    StructField("host", StringType), StructField("metric", StringType),
    StructField("region", StringType), StructField("time", LongType),
    StructField("value", DoubleType)))

  def frame(spark: SparkSession, rows: Seq[(Series, Long, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (s, t, v) =>
        Row(s.host, s.metric, s.region, t, v) }, spark.sparkContext.defaultParallelism), Schema)

  /** The reference perf-test point shape for the JSON /write body. */
  def pointJson(s: Series, t: Long, v: Double): String =
    s"""{"time":$t,"value":$v,"host":"${s.host}","metric":"${s.metric}","region":"${s.region}"}"""
}

/** One facade request the generator can send over HTTP, check against the
  * model, and replay in-process layer by layer. */
sealed trait Req {
  def route: String
  def path: String
  def body: String
  def check(m: Model, resp: JsonNode, source: String): Option[String]
  /** The facade call that returns the request's DataFrame. */
  def build(sv: Served, spark: SparkSession): DataFrame
  def filter: Filter
}

object Req {
  val DayMs: Long = 86400000L

  final case class Read(filter: Filter, start: Long, end: Long, wide: Boolean = false,
                        subset: Boolean = false) extends Req {
    def route = if (wide) "read_wide" else "read"
    def path = "/read"
    def body = s"""{"query":${filter.json},"start":$start,"end":$end}"""
    def check(m: Model, r: JsonNode, src: String) =
      if (subset) Check.readSubset(m, filter, start, end, r)
      else Check.read(m, filter, start, end, r)
    def build(sv: Served, spark: SparkSession) = sv.g.readSeries(filter.json, "default", start, end)
  }
  final case class Count(filter: Filter, start: Long, end: Long) extends Req {
    def route = "count"
    def path = "/count"
    def body = s"""{"query":${filter.json},"start":$start,"end":$end}"""
    def check(m: Model, r: JsonNode, src: String) = Check.count(m, filter, start, end, r)
    def build(sv: Served, spark: SparkSession) = sv.g.countPoints(filter.json, "default", start, end)
  }
  final case class SeriesOf(filter: Filter, start: Long, end: Long) extends Req {
    def route = "series"
    def path = "/series"
    def body = s"""{"query":${filter.json},"start":$start,"end":$end}"""
    def check(m: Model, r: JsonNode, src: String) = Check.seriesList(m, filter, start, end, r)
    def build(sv: Served, spark: SparkSession) = sv.g.seriesList(filter.json, "default", start, end)
  }
  final case class Distinct(keys: Seq[String], filter: Filter) extends Req {
    def route = "distinct"
    def path = "/select_distinct"
    def body = s"""{"keys":${keys.map("\"" + _ + "\"").mkString("[", ",", "]")},"query":${filter.json}}"""
    def check(m: Model, r: JsonNode, src: String) = Check.distinct(m, keys, filter, r)
    def build(sv: Served, spark: SparkSession) = sv.g.selectDistinct(keys, filter.json, "default")
  }
  final case class Search(hosts: Seq[String]) extends Req {
    def route = "search"
    def path = "/search"
    def body = s"""{"q":"${hosts.mkString(" ")}","k":20}"""
    def filter = Filter.Terms("host", hosts)
    def check(m: Model, r: JsonNode, src: String) = Check.search(m, hosts, src, r)
    def build(sv: Served, spark: SparkSession) =
      CdcIndexSync.search(spark, sv.idxDir, hosts, 20)
  }

  /** Narrow dashboard filters, `kind` (mod 5) choosing the shape: one
    * host, two hosts, host+metric, a host prefix (10 hosts) and a host
    * wildcard (up to 3 hosts). */
  def narrowFilter(m: Model, rnd: Random, kind: Int): Filter = {
    val h = rnd.nextInt(m.nHosts)
    val hs = m.host(h)
    kind % 5 match {
      case 0 => Filter.Term("host", hs)
      case 1 => Filter.Terms("host", Seq(hs, m.host((h + 1) % m.nHosts)))
      case 2 => Filter.Must(Seq(Filter.Term("host", hs),
        Filter.Term("metric", Series.Metrics(rnd.nextInt(Series.Metrics.size)))))
      case 3 => Filter.Prefix("host", hs.take(3))
      case _ => Filter.Wildcard("host", "h?" + hs.drop(2))
    }
  }
}

/** In-process replay of a request, one span per layer call, with the
  * Spark jobs it launches tagged by a per-request job group:
  *  - tsdb.filter_compile: `EsFilter.compile` of the request's filter
  *  - tsdb.<r>.build: the facade call returning its DataFrame
  *  - spark.<r>.plan: forcing `queryExecution.executedPlan`
  *  - spark.<r>.exec: running it and serializing rows as the server does */
object Replay {
  val Columns: Seq[String] = Seq("host", "metric", "region", "time_ms", "value", "ts")

  def run(req: Req, sv: Served, spark: SparkSession, tr: Tracer): Unit = {
    val rid = tr.nextId()
    val r = req.route
    val sc = spark.sparkContext
    sc.setJobGroup(s"replay.$r.$rid", r)
    try tr.span(s"replay.$r", "request", rid, 0L) { root =>
      tr.span("tsdb.filter_compile", "tsdb", rid, root)(_ => EsFilter.compile(req.filter.json, Columns))
      val df = tr.span(s"tsdb.$r.build", "tsdb", rid, root)(_ => req.build(sv, spark))
      val js = df.toJSON
      tr.span(s"spark.$r.plan", "spark", rid, root)(_ => js.queryExecution.executedPlan)
      tr.span(s"spark.$r.exec", "spark", rid, root)(_ => js.collect().length)
    } finally sc.clearJobGroup()
  }
}

/** Per-route layer metrics shared by the serving workloads. */
object Layers {
  /** Spans for one client exchange: the request root, then time to
    * response headers and the body stream. */
  def httpSpans(tr: Tracer, route: String, t0: Long, r: Resp): Unit = {
    val req = tr.nextId()
    val ttfbNs = (r.ttfb * 1e9).toLong
    val endNs = t0 + (r.total * 1e9).toLong
    tr.record(Span(req, 0L, req, s"http.$route", "request", t0, endNs))
    tr.record(Span(tr.nextId(), req, req, s"http.$route.ttfb", "http.wait", t0, t0 + ttfbNs))
    tr.record(Span(tr.nextId(), req, req, s"http.$route.stream", "http.stream", t0 + ttfbNs, endNs))
  }

  /** Replays run on one extra thread until `stop`. */
  def replayLoop(ctx: Ctx, sv: Served, gen: Random => Req, stop: () => Boolean): Thread = {
    val th = new Thread(() => {
      val rnd = new Random(ctx.seed * 104729 + 17)
      while (!stop())
        try Replay.run(gen(rnd), sv, ctx.spark, ctx.tracer)
        catch { case e: Throwable => ctx.result.fail(s"replay: $e") }
    }, "graftbench-replay")
    th.start(); th
  }

  /** HTTP metrics over all traced exchanges, then per route: HTTP, facade
    * build, Catalyst planning, execution and the Spark work of replays. */
  def report(ctx: Ctx, routes: Seq[String], bytes: Samples): Unit = {
    val r = ctx.result
    val all = ctx.tracer.all
    val spans = all.groupBy(_.name)
    def med(name: String): Option[Double] =
      spans.get(name).map(ss => Stats.median(ss.map(_.dur)))
    def medLayer(layer: String): Option[Double] =
      Some(all.filter(_.layer == layer)).filter(_.nonEmpty).map(ss => Stats.median(ss.map(_.dur)))
    ctx.probe.settle()
    medLayer("http.wait").foreach(r.layerMetric("http.ttfb_s", _, "s"))
    medLayer("http.stream").foreach(r.layerMetric("http.stream_s", _, "s"))
    val allBytes = bytes.kinds.flatMap(bytes.get)
    if (allBytes.nonEmpty) r.layerMetric("http.resp_bytes", Stats.median(allBytes), "bytes")
    med("tsdb.filter_compile").foreach(r.layerMetric("tsdb.filter_compile_s", _, "s"))
    routes.foreach { rt =>
      med(s"http.$rt.ttfb").foreach(r.layerMetric(s"http.$rt.ttfb_s", _, "s"))
      med(s"http.$rt.stream").foreach(r.layerMetric(s"http.$rt.stream_s", _, "s"))
      if (bytes.get(rt).nonEmpty)
        r.layerMetric(s"http.$rt.resp_bytes", Stats.median(bytes.get(rt)), "bytes")
      med(s"tsdb.$rt.build").foreach(r.layerMetric(s"tsdb.$rt.build_s", _, "s"))
      med(s"spark.$rt.plan").foreach(r.layerMetric(s"spark.$rt.plan_s", _, "s"))
      med(s"spark.$rt.exec").foreach(r.layerMetric(s"spark.$rt.exec_s", _, "s"))
      val n = spans.get(s"replay.$rt").map(_.size).getOrElse(0)
      if (n > 0) {
        val a = ctx.probe.sum(s"replay.$rt.")
        r.layerMetric(s"spark.$rt.jobs", a.jobs.get.toDouble / n, "count")
        r.layerMetric(s"spark.$rt.tasks", a.tasks.get.toDouble / n, "count")
        r.layerMetric(s"spark.$rt.input_bytes", a.inputBytes.get.toDouble / n, "bytes")
        r.layerMetric(s"spark.$rt.shuffle_bytes", a.shuffleBytes.get.toDouble / n, "bytes")
        r.layerMetric(s"spark.$rt.task_wait_s", a.taskWait, "s")
      }
    }
  }

  /** Client loop body shared by the serving workloads: send, time, check. */
  def exchange(ctx: Ctx, client: Client, m: Model, req: Req, lat: Samples, bytes: Samples): Resp = {
    val t0 = System.nanoTime()
    val r = client.post(req.path, req.body)
    lat.add(req.route, r.total)
    bytes.add(req.route, r.body.length.toDouble)
    if (ctx.traced) httpSpans(ctx.tracer, req.route, t0, r)
    ctx.result.check(
      if (r.status != 200) Some(s"${req.route} -> HTTP ${r.status}: ${new String(r.body, "UTF-8").take(200)}")
      else req.check(m, Check.parse(r.body), r.source))
    r
  }
}
