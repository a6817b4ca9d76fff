package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import graft.http.{GraftHttpServer, ServerMain}
import graft.streaming.CdcIndexSync
import graft.tsdb.Graft

/** A local filesystem on its own scheme that records every directory it
  * lists. A job listener alone cannot show that a search lists nothing:
  * under Spark's parallel-discovery threshold a listing runs serially in
  * the calling thread, with no job. */
class ListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def checkPath(path: HPath): Unit = ()
  override def listStatus(f: HPath): Array[FileStatus] = {
    ListCountingFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}
object ListCountingFs {
  /** Paths listed since the last clear, in call order. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The search index's serving view holds its state's file listings: once
  * the maintenance sweep has refreshed it, an index-served `/search`
  * (exact or prefix) lists no index directory, and a state the view does
  * not hold still answers from fresh reads. */
class ServeViewSpec extends SparkTestBase {
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

  test("a warm index-served /search lists no index family directory; exact and prefix answers equal the scan, and a state the serving view does not hold still does") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[ListCountingFs].getName)
    val local = Files.createTempDirectory(Paths.get("target"), "graft-serveview")
      .toAbsolutePath.toString
    val root = s"countfs:$local"
    val g = new Graft(spark, root, commitPrimitive = Graft.PrimCreateExclusive)
    val idxBase = s"$root/.search-index"
    Seq(("cpu", "web-01"), ("cpu", "web-02"), ("mem", "db-01"),
      ("disk", "db-02"), ("net", "edge-01")).zipWithIndex.foreach {
      case ((n, h), i) =>
        g.write(Seq((s"2024-01-09T1$i:00:00Z", i.toDouble, n, h))
          .toDF("time", "value", "name", "host"))
    }
    ServerMain.searchIndexSweep(g, idxBase)

    val srv = new GraftHttpServer(g, spark, searchIndexDir = Some(idxBase))
    val scanSrv = new GraftHttpServer(g, spark)
    val (port, scanPort) = (srv.start(), scanSrv.start())
    def served(q: String): Unit = {
      val (c, src, b) = search(port, q)
      assert(c == 200 && src == "index", s"$q: $c $src $b")
      assert(mapper.readTree(b) == mapper.readTree(search(scanPort, q)._3),
        s"index-served /search diverges from the scan for '$q': $b")
      assert(mapper.readTree(b).get("series").size() > 0, s"$q: no hits")
    }
    // listings of the index's data: everything under the index dir but
    // its `_sync` markers, which the facade lists once per request
    def familyListings(): Seq[String] =
      ListCountingFs.listed.toArray(Array.empty[String]).toSeq.filter(p =>
        p.startsWith(s"$local/.search-index/") && !p.contains("/_sync"))
    try {
      ListCountingFs.listed.clear()
      Seq("cpu", "db*").foreach(served)
      assert(familyListings().isEmpty,
        s"a warm search must list no index family: ${familyListings()}")

      // a landed write synced without a refresh: the view no longer
      // matches the state, so the search reads the families afresh
      g.write(Seq(("2024-01-09T18:00:00Z", 8.0, "cpu", "web-03"))
        .toDF("time", "value", "name", "host"))
      CdcIndexSync.sync(g, s"$idxBase/default")
      ListCountingFs.listed.clear()
      Seq("cpu", "web*").foreach(served)
      assert(familyListings().nonEmpty,
        "precondition: the cold state must be read from fresh listings")
    } finally { srv.stop(); scanSrv.stop() }
  }
}
