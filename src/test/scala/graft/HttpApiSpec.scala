package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import graft.http.GraftHttpServer
import graft.tsdb.Graft

/** The reference's HTTP write/read/delete cycle (test/http-api.spec.js)
  * against the facade: real sockets, real JSON, the embedded engine behind.
  */
class HttpApiSpec extends SparkTestBase {
  private val mapper = new ObjectMapper()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("write/read/count/series/select_distinct/delete over HTTP") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      // write: 3 valid points + 1 invalid -> per-point error in the response
      val (wc, wb) = post(port, "/write",
        """{"points":[
             {"time":"2024-01-09T10:00:00Z","value":17.0,"name":"cpu","host":"a"},
             {"time":"2024-01-09T10:00:01Z","value":57.0,"name":"cpu","host":"b"},
             {"time":"2024-01-19T10:00:02Z","value":93.0,"name":"cpu","host":"b"},
             {"time":"nope","value":5.0,"name":"bad","host":"x"}]}""")
      assert(wc == 200, wb)
      val werrs = mapper.readTree(wb).get("errors")
      assert(werrs.size() == 1 &&
        werrs.get(0).get("error").asText() == "invalid timestamp")

      // read: series arrays with sorted points
      val (rc, rb) = post(port, "/read", """{"filter":{"term":{"host":"b"}}}""")
      assert(rc == 200, rb)
      val series = mapper.readTree(rb).get("series")
      assert(series.size() == 1)
      assert(series.get(0).get("points").size() == 2)

      // count per series
      val (_, cb) = post(port, "/count", "{}")
      val counts = mapper.readTree(cb).get("series")
      assert(counts.size() == 2) // (cpu,a) and (cpu,b)

      // stream list + select_distinct
      val (_, sb) = post(port, "/series", "{}")
      assert(mapper.readTree(sb).get("series").size() == 2)
      val (_, db) = post(port, "/select_distinct", """{"keys":["host"]}""")
      val hosts = mapper.readTree(db) // bare array, like the reference
      assert((0 until hosts.size()).map(hosts.get(_).get("host").asText()).sorted
        == Seq("a", "b"))

      // time-range read is [start, end)
      val (_, tb) = post(port, "/read",
        """{"start":1704758400000,"end":1704844800000}""")
      val daySeries = mapper.readTree(tb).get("series")
      assert((0 until daySeries.size()).map(daySeries.get(_).get("points").size()).sum == 2)

      // bad request surfaces as 400, not a hung socket
      val (bc, _) = post(port, "/write", """{"nope":1}""")
      assert(bc == 400)

      // delete keeps recent buckets only (both 2024 buckets age out vs now)
      val (dc, delb) = post(port, "/delete", """{"keep_days":100000}""")
      assert(dc == 200, delb)
      assert(mapper.readTree(delb).get("dropped_buckets").size() == 0)
    } finally srv.stop()
  }

  test("reference-formatted requests round-trip unchanged") {
    // the exact shapes test/orestes-test-utils.js sends: bare-array /write
    // body, space as a path param, `query` as the filter key, date-string
    // start/end, count as an aggregation on /read
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-ref").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      val (wc, wb) = post(port, "/write/refspace",
        """[{"time":"2024-01-09T10:00:00Z","value":17.0,"name":"cpu","host":"a"},
            {"time":1704794401000,"value":57.0,"name":"cpu","host":"a"},
            {"time":"2024-01-19T10:00:02Z","value":93.0,"name":"cpu","host":"b"}]""")
      assert(wc == 200, wb)
      assert(mapper.readTree(wb).get("errors").size() == 0)

      // read: ISO start, date-only end, query-keyed filter, path space
      val (rc, rb) = post(port, "/read/refspace",
        """{"query":{"term":{"host":"a"}},
            "start":"2024-01-09T00:00:00.000Z","end":"2024-01-10"}""")
      assert(rc == 200, rb)
      val series = mapper.readTree(rb).get("series")
      assert(series.size() == 1)
      val el = series.get(0)
      // the reference element shape: nested tags + [ms, value] point pairs
      assert(el.get("tags").get("name").asText() == "cpu" &&
        el.get("tags").get("host").asText() == "a", el.toString)
      val pts = el.get("points")
      assert(pts.size() == 2)
      assert(pts.get(0).get(0).asLong() == 1704794400000L &&
        pts.get(0).get(1).asDouble() == 17.0, pts.toString)
      assert(pts.get(1).get(0).asLong() == 1704794401000L &&
        pts.get(1).get(1).asDouble() == 57.0, pts.toString)

      // count as the reference sends it: an aggregation on /read
      val (cc, cb) = post(port, "/read/refspace",
        """{"query":{"match_all":{}},"start":0,"end":"2024-02-01",
            "aggregations":[{"type":"count"}]}""")
      assert(cc == 200, cb)
      val counts = mapper.readTree(cb).get("series")
      assert(counts.size() == 2)
      val byHost = (0 until 2).map { i =>
        counts.get(i).get("tags").get("host").asText() ->
          counts.get(i).get("count").asLong()
      }.toMap
      assert(byHost == Map("a" -> 2L, "b" -> 1L), byHost.toString)

      // any other aggregation type is a 400, like the reference
      val (ac, _) = post(port, "/read/refspace",
        """{"aggregations":[{"type":"avg"}]}""")
      assert(ac == 400)

      // series + select_distinct against the path space
      val (_, sb2) = post(port, "/series/refspace", """{"query":{"match_all":{}}}""")
      assert(mapper.readTree(sb2).get("series").size() == 2)
      val (_, db2) = post(port, "/select_distinct/refspace", """{"keys":["host"]}""")
      assert(mapper.readTree(db2).size() == 2)

      // a garbage date is a 400, not a silent NaN range
      val (gc, _) = post(port, "/read/refspace", """{"start":"not a date"}""")
      assert(gc == 400)
    } finally srv.stop()
  }

  test("routes 404 off segment boundaries; unbounded reads default to [0, now)") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      // com.sun contexts prefix-match, but /readfoo is not /read/:space —
      // the reference router would 404 and so must the facade
      val (nc, _) = post(port, "/readfoo", "{}")
      assert(nc == 404)
      // the space path param still routes at a proper segment boundary
      val (sc2, _) = post(port, "/read/other", "{}")
      assert(sc2 == 200)

      val (wc, wb) = post(port, "/write",
        """[{"time":-86400000,"value":1.0,"name":"old"},
            {"time":"2031-01-01T00:00:00Z","value":2.0,"name":"future"},
            {"time":"2024-01-09T10:00:00Z","value":3.0,"name":"current"}]""")
      assert(wc == 200, wb)
      assert(mapper.readTree(wb).get("errors").size() == 0)

      // no start/end: the reference defaults to [0, Date.now()) —
      // pre-1970 and future points must NOT surface (orestes.js:85-86)
      val (_, rb) = post(port, "/read", "{}")
      val series = mapper.readTree(rb).get("series")
      assert(series.size() == 1, rb)
      assert(series.get(0).get("tags").get("name").asText() == "current")

      // explicit bounds still reach both tails
      val (_, ab) = post(port, "/read",
        """{"start":-172800000,"end":"2032-01-01T00:00:00Z"}""")
      assert(mapper.readTree(ab).get("series").size() == 3)
    } finally srv.stop()
  }

  test("/read, /count and /series bounds accept the time strings a point's time does") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-times").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      val (wc, wb) = post(port, "/write",
        """[{"time":"2024-01-09 09:00:00","value":1.0,"name":"early"},
            {"time":"2024-01-09 10:00:00","value":2.0,"name":"late"}]""")
      assert(wc == 200, wb)
      assert(mapper.readTree(wb).get("errors").size() == 0, wb)

      // the space-separated form a point's time accepts bounds every read
      val bounds = """"start":"2024-01-09 10:00:00","end":"2024-01-09 10:00:01""""
      val (rc, rb) = post(port, "/read", s"{$bounds}")
      assert(rc == 200, rb)
      val series = mapper.readTree(rb).get("series")
      assert(series.size() == 1 &&
        series.get(0).get("tags").get("name").asText() == "late", rb)
      val (cc, cb) = post(port, "/count", s"{$bounds}")
      assert(cc == 200, cb)
      val counts = mapper.readTree(cb).get("series")
      assert(counts.size() == 1 && counts.get(0).get("count").asLong() == 1L, cb)
      val (sc, sb) = post(port, "/series", s"{$bounds}")
      assert(sc == 200, sb)
      assert(mapper.readTree(sb).get("series").size() == 1, sb)

      // a string the point path refuses is still a 400
      val (gc, _) = post(port, "/read", """{"start":"not a date"}""")
      assert(gc == 400)
    } finally srv.stop()
  }

  test("a held streaming read does not block concurrent requests") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-conc").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      post(port, "/write",
        """[{"time":"2024-01-09T10:00:00Z","value":1.0,"name":"cpu"}]""")
      // gate /read streams open after headers; /count must complete while
      // the read is still held (deterministic, no timing races)
      val latch = new java.util.concurrent.CountDownLatch(1)
      srv.holdStreamsFor = Some(("/read", latch))
      val readFut = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        post(port, "/read", "{}"))
      try {
        val (cc, cb) = post(port, "/count", "{}")
        assert(cc == 200, cb)
        assert(mapper.readTree(cb).get("series").size() == 1)
        assert(!readFut.isDone, "read must still be held open")
      } finally {
        srv.holdStreamsFor = None
        latch.countDown()
      }
      val (rc, rb) = readFut.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(rc == 200 && mapper.readTree(rb).get("series").size() == 1, rb)
    } finally srv.stop()
  }

  test("mid-stream failure ends the body with a parseable error terminator") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-err").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      val (wc, wb) = post(port, "/write",
        """[{"time":"2024-01-09T10:00:00Z","value":1.0,"name":"cpu"},
            {"time":"2024-01-09T10:00:00Z","value":2.0,"name":"mem"}]""")
      assert(wc == 200, wb)
      // poison the stream after the first row: headers and a partial body
      // are already out, so the server must close the array and smuggle the
      // error into the same body (orestes.js:156-161) instead of truncating
      srv.poisonStreamsFor = Some(("/read", """executor lost: task 7 "oom""""))
      try {
        val (rc, rb) = post(port, "/read", "{}")
        assert(rc == 200, rb) // status was committed before the failure
        val node = mapper.readTree(rb) // the partial body still parses
        assert(node.get("error").asText() == """executor lost: task 7 "oom"""", rb)
        assert(node.get("series").size() == 1, rb) // the first row arrived
      } finally srv.poisonStreamsFor = None
    } finally srv.stop()
  }

  test("/read streams chunked (no driver-side materialization of the result)") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-stream").toString
    val srv = new GraftHttpServer(new Graft(spark, root), spark)
    val port = srv.start()
    try {
      // 200 points across 50 hosts -> 50 series rows in /read
      val pts = (0 until 200).map { i =>
        val (mi, se) = (i % 60, i / 60)
        f"""{"time":"2024-01-09T10:$mi%02d:$se%02dZ","value":$i.0,"name":"cpu","host":"h${i % 50}"}"""
      }.mkString(",")
      val (wc, wb) = post(port, "/write", s"""{"points":[$pts]}""")
      assert(wc == 200, wb)
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/read"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      // chunked transfer: the server never sized (= never materialized) the
      // whole body — the reference's scroll-cursor semantics
      assert(resp.headers().firstValue("transfer-encoding").orElse("") == "chunked",
        resp.headers().map().toString)
      assert(resp.headers().firstValue("content-length").isEmpty)
      val series = mapper.readTree(resp.body()).get("series")
      assert(series.size() == 50)
      assert((0 until 50).map(series.get(_).get("points").size()).sum == 200)
      // a bad filter still fails fast with a status code (before streaming)
      val (bc, _) = post(port, "/read", """{"filter":{"bogus":{}}}""")
      assert(bc == 400)
    } finally srv.stop()
  }
}
