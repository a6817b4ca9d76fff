package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import graft.http.{GraftHttpServer, ServerMain}
import graft.streaming.CdcIndexSync
import graft.tsdb.Graft

/** The search index serves one format: an index written in any other
  * format is refused, `/search` answers from the store scan until the
  * next maintenance sweep, and that sweep rebuilds the index even when the
  * store has not moved.
  */
class IndexFormatSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** POST /search: (status, X-Graft-Search-Source, body). */
  private def search(port: Int, q: String): (Int, String, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"q": "$q", "k": 10}""")).build()
    val resp = HttpClient.newHttpClient()
      .send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(),
      resp.headers().firstValue("X-Graft-Search-Source").orElse(""), resp.body())
  }

  test("an index stamped with an earlier format is refused, /search serves the scan and logs the cause once, and one sweep over an idle store rebuilds it in the current format") {
    val dir = Files.createTempDirectory(Paths.get("target"), "graft-idxfmt")
    val root = s"$dir/store"
    val idxBase = s"$root/.search-index"
    val idxDir = s"$idxBase/default"
    val stamp = Paths.get(s"$idxDir/_sync/format")
    val cfgPath = Paths.get(s"$dir/cfg.json")
    Files.write(cfgPath, """{"port": 0, "search_index": true}""".getBytes("UTF-8"))
    val (g, srv, _) = ServerMain.boot(spark, cfgPath.toString, root)
    val scanSrv = new GraftHttpServer(g, spark)
    val (port, scanPort) = (srv.start(), scanSrv.start())
    try {
      g.write(Seq(
        ("2024-01-09T10:00:00Z", 1.0, "cpu", "web-01"),
        ("2024-01-09T11:00:00Z", 2.0, "mem", "web-02"),
        ("2024-01-09T12:00:00Z", 3.0, "cpu", "db-01"),
        ("2024-01-10T10:00:00Z", 4.0, "disk", "db-01"))
        .toDF("time", "value", "name", "host"))
      ServerMain.searchIndexSweep(g, idxBase)
      val snaps = g.snapshots()

      // the index an earlier release left behind: its stamp reads "2"
      // (written through the store's filesystem, checksum and all). A new
      // process resolves it from disk, so drop the state cache the sweep
      // above filled, as the restart would
      val stampPath = new org.apache.hadoop.fs.Path(stamp.toString)
      Graft.writeSmallFile(
        stampPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
        stampPath, "2")
      CdcIndexSync.dropStateCaches()
      val refused = intercept[IllegalStateException] {
        CdcIndexSync.search(spark, idxDir, Seq("cpu"))
      }
      assert(refused.getMessage.contains("'2'") &&
        refused.getMessage.contains("rebuild"), refused.getMessage)

      // the facade answers from the scan and logs the cause once
      val errBuf = new java.io.ByteArrayOutputStream()
      val savedErr = System.err
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      val (code, src, body) =
        try search(port, "cpu") finally System.setErr(savedErr)
      assert(code == 200 && src == "scan", s"$code $src $body")
      assert(mapper.readTree(body) == mapper.readTree(search(scanPort, "cpu")._3))
      val logged = errBuf.toString("UTF-8").linesIterator
        .filter(_.contains("/search default: index probe failed")).toSeq
      assert(logged.size == 1 && logged.head.contains("format stamp '2'"),
        s"the fallback must log its cause once: $logged")

      // one sweep with no new snapshot rewrites the stamp
      ServerMain.searchIndexSweep(g, idxBase)
      assert(g.snapshots() == snaps, "the store must have stayed idle")
      assert(new String(Files.readAllBytes(stamp), "UTF-8") == "3")

      // and /search is index-served again, equal to the scan for exact
      // and prefix queries
      Seq("cpu", "web-01 mem", "db*", "c* web*").foreach { q =>
        val (c, s, b) = search(port, q)
        assert(c == 200 && s == "index", s"$q: $c $s $b")
        val (_, _, scan) = search(scanPort, q)
        assert(mapper.readTree(b) == mapper.readTree(scan),
          s"index-served /search diverges from the scan for '$q': $b vs $scan")
        assert(mapper.readTree(b).get("series").size() > 0, b)
      }
    } finally { srv.stop(); scanSrv.stop() }
  }
}
