package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: out-of-order streaming near-dup corrections,
  * HTTP-level two-space isolation, SQL front door, retention-vs-write
  * races, and continuous facade ingest.
  */
class Round12Spec extends SparkTestBase {

  test("streaming near-dup: out-of-order arrival matches the batch a<b relation via corrections") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp(n: String) = {
      val p = s"target/stream-test/neardup12-$n-${System.nanoTime()}"
      Files.createDirectories(Paths.get(p)); p
    }
    val (idx, dec, ckpt) = (tmp("idx"), tmp("dec"), tmp("ckpt"))
    val a = "the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew strong coffee under pale moonlight near the ancient stone bridge " +
      "across the silver river valley before dawn"
    val aNear = a.replace("coffee", "tea")
    val b = "orbital mechanics requires careful numerical integration of " +
      "perturbation forces acting on satellites across many revolutions " +
      "with drag harmonics and third body terms included everywhere"
    val corpus = Map(3L -> aNear, 7L -> b, 10L -> a)

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.NearDupStream.start(docs, idx, dec, ckpt)
    // the LARGER id arrives first...
    mem.addData((10L, a), (7L, b))
    q.processAllAvailable()
    def decisions() = graft.streaming.NearDupStream.decisionsOf(spark, dec)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ...and is (correctly) kept at that point: nothing smaller collides yet
    assert(decisions() == Map(10L -> 0L, 7L -> 0L))
    // ...then a SMALLER-id near-clone lands in a later batch
    mem.addData((3L, aNear))
    q.processAllAvailable(); q.stop()

    // the batch reference relation on doc_id order, independent of arrival:
    // (3,10) collide => 10 is the dup, 3 is kept
    val pairs = graft.dedup.Dedup.minhashLshOn(
      graft.dedup.Dedup.shingleRowsOf(
        corpus.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 10L)), "test premise: the near pair must collide")
    val expected = corpus.keySet.toSeq.map(d =>
      d -> (if (corpus.keySet.exists(x => x < d && pairs.contains((x, d)))) 1L
            else 0L)).toMap
    assert(decisions() == expected,
      s"correction must flag the earlier larger-id doc: ${decisions()} vs $expected")
    assert(decisions()(10L) == 1L && decisions()(3L) == 0L)
    // the correction row lives in the LATER batch's partition — the earlier
    // partition is never rewritten (crash-replay bit-identity preserved)
    val raw = spark.read.parquet(dec)
      .select(col("doc_id"), col("is_dup"), col("ingest_batch").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(raw.contains((10L, 0L, 0L)) && raw.contains((10L, 1L, 1L)),
      s"append-log shape: original keep + later correction, got $raw")
  }

  // ---- HTTP-level two-space isolation (reference test/multiple-spaces.spec.js)

  test("two spaces driven concurrently over HTTP stay isolated") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.nio.file.Files
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def post(port: Int, path: String, body: String): (Int, String) = {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-http-2sp").toString
    // the reference config shape: default at 1-day granularity, other at 7
    val g = new graft.tsdb.Graft(spark, root,
      spaceGranularity = Map("default" -> 1, "other" -> 7))
    val srv = new graft.http.GraftHttpServer(g, spark)
    val port = srv.start()
    try {
      val day0 = 19740L // divisible by 7: days 19740 and 19743 share a 7-day bucket
      val (d0, d3) = (day0 * 86400000L, (day0 + 3) * 86400000L)
      def batch(base: Long, j: Int, hosts: Seq[String]) =
        (0 until 10).map(i =>
          s"""{"time":${base + j * 1000 + i},"value":$i.0,"name":"cpu","host":"${hosts(j % 3)}"}""")
          .mkString("""{"points":[""", ",", "]}")
      // interleaved concurrent writers, one per space, disjoint tag vocabularies
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def writer(space: String, hosts: Seq[String]) = new Thread(() =>
        try (0 until 20).foreach { j =>
          val (c, b) = post(port, s"/write/$space",
            batch(if (j % 2 == 0) d0 else d3, j, hosts))
          if (c != 200 || mapper.readTree(b).get("errors").size() != 0)
            errs.add(s"$space batch $j: $c $b")
        } catch { case e: Throwable => errs.add(s"$space: $e") })
      val t1 = writer("default", Seq("a", "b", "c"))
      val t2 = writer("other", Seq("h", "i", "j"))
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(errs.isEmpty, errs.toString)

      // per-space counts and tag sets come back disjoint and complete
      def countOf(space: String): Long = {
        val (c, b) = post(port, s"/count/$space", "{}")
        assert(c == 200, b)
        val series = mapper.readTree(b).get("series")
        (0 until series.size()).map(series.get(_).get("count").asLong()).sum
      }
      def hostsOf(space: String): Seq[String] = {
        val (_, b) = post(port, s"/select_distinct/$space", """{"keys":["host"]}""")
        val arr = mapper.readTree(b)
        (0 until arr.size()).map(arr.get(_).get("host").asText()).sorted
      }
      assert(countOf("default") == 200L && countOf("other") == 200L)
      assert(hostsOf("default") == Seq("a", "b", "c"))
      assert(hostsOf("other") == Seq("h", "i", "j"))

      // queued-write flush is PER SPACE: a point queued to `other` is not
      // flushed by reading `default`...
      val (xc, xb) = post(port, "/write/other",
        s"""{"points":[{"time":${d0 + 999999},"value":9.0,"name":"cpu","host":"z"}]}""")
      assert(xc == 200 && mapper.readTree(xb).get("errors").size() == 0, xb)
      post(port, "/read/default", "{}")
      def diskHosts(space: String): Set[String] =
        spark.read.option("basePath", s"$root/$space").option("mergeSchema", "true")
          .parquet(s"$root/$space/bucket_day=*")
          .select("host").distinct().collect().map(_.getString(0)).toSet
      assert(!diskHosts("other").contains("z"),
        "reading `default` must not flush `other`'s queue")
      // ...and lands once `other` itself is read
      assert(countOf("other") == 201L)
      assert(diskHosts("other").contains("z"))

      // per-space granularity honored on disk: 3-days-apart points occupy
      // two 1-day buckets in `default`, ONE 7-day bucket in `other`
      def buckets(space: String): Set[String] = {
        val dir = new java.io.File(s"$root/$space")
        dir.listFiles().map(_.getName).filter(_.startsWith("bucket_day=")).toSet
      }
      assert(buckets("default") == Set("bucket_day=19740", "bucket_day=19743"))
      assert(buckets("other") == Set("bucket_day=19740"))

      // /delete is scoped to its space: dropping default's old buckets
      // leaves `other` untouched
      val (dc, db) = post(port, "/delete/default", """{"keep_days":30}""")
      assert(dc == 200, db)
      assert(mapper.readTree(db).get("dropped_buckets").size() == 2, db)
      assert(countOf("default") == 0L)
      assert(countOf("other") == 201L)
      assert(buckets("other") == Set("bucket_day=19740"))
    } finally srv.stop()
  }

  // ---- SQL front door (directive r11 #5)

  test("Graft.sql: spaces as views with merge-on-read, queue flush, and kernels") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory(Paths.get("target"), "graft-sql").toString
    val g = new graft.tsdb.Graft(spark, root)
    def pts(json: String*) = spark.read.json(json.toDS())
    val t = 1704794400000L
    g.write(pts(s"""{"time":$t,"value":1.0,"name":"cpu","host":"a"}"""))
    // overwrite the SAME (series, time): last-write-wins must hold in SQL
    g.write(pts(s"""{"time":$t,"value":2.0,"name":"cpu","host":"a"}"""))
    // a queued (unflushed) point must be visible to SQL (reads flush first)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val qErrs = g.writeQueued(Seq(mapper.readTree(
      s"""{"time":${t + 1000},"value":5.0,"name":"cpu","host":"b"}""")))
    assert(qErrs.isEmpty)

    val rows = g.sql(
      "SELECT host, time_ms, value FROM graft_default ORDER BY host")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", t, 2.0), ("b", t + 1000, 5.0)),
      s"merge-on-read + queue flush must hold in SQL: $rows")
    // the write-sequence stamp is merge machinery, never user-visible schema
    assert(!g.sql("SELECT * FROM graft_default").columns.contains("__wseq"))

    // ts_count equivalent through SQL == the API's countPoints
    val sqlCounts = g.sql(
      "SELECT host, count(*) AS n FROM graft_default GROUP BY host ORDER BY host")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val apiCounts = g.countPoints("""{"match_all":{}}""")
      .select("host", "n").orderBy("host")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sqlCounts == apiCounts && sqlCounts.map(_._2).sum == 2L)

    // a second space surfaces as its own view in the same query namespace
    g.write(pts(s"""{"time":$t,"value":7.0,"name":"mem","host":"x"}"""), "other")
    val cross = g.sql(
      """SELECT (SELECT count(*) FROM graft_default) AS nd,
                (SELECT count(*) FROM graft_other) AS no""").head()
    assert((cross.getLong(0), cross.getLong(1)) == ((2L, 1L)))

    // the codegen'd kernels are callable from SQL (session extensions)
    val d = g.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)

    // view freshness: a write AFTER registration is visible on the next call
    g.write(pts(s"""{"time":${t + 2000},"value":9.0,"name":"cpu","host":"c"}"""))
    assert(g.sql("SELECT count(*) FROM graft_default").head().getLong(0) == 3L)

    // name mangling must stay injective: "other.x" and "other_x" would
    // silently share the view graft_other_x — rejected loudly instead
    g.write(pts(s"""{"time":$t,"value":1.0,"name":"m","host":"y"}"""), "other.x")
    g.write(pts(s"""{"time":$t,"value":2.0,"name":"m","host":"y"}"""), "other_x")
    val collide = intercept[IllegalArgumentException] {
      g.sql("SELECT count(*) FROM graft_other_x")
    }
    assert(collide.getMessage.contains("collide"), collide.getMessage)
  }

  // ---- retention daemon under live writes (directive r11 #7)

  test("retention sweep races live writes without loss, resurrection, or report drift") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory(Paths.get("target"), "graft-race").toString
    val keep = 5
    val g = new graft.tsdb.Graft(spark, root, spaceGranularity = Map("default" -> 1),
      spaceKeepDays = Map("default" -> keep))
    val today = 19750L
    val (oldDay, newDay) = (19740L, 19749L) // doomed = 19745: old drops, new survives
    def pt(day: Long, i: Int) =
      s"""{"time":${day * 86400000L + i},"value":$i.0,"name":"cpu","host":"h$i"}"""
    def pts(json: String*) = spark.read.json(json.toDS())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    // seed: an old bucket exists before the daemon starts
    g.write(pts(pt(oldDay, 100)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val nWrites = 8
    val writer = new Thread(() =>
      try (0 until nWrites).foreach { i =>
        g.write(pts(pt(newDay, i)))              // live bucket, direct write
        g.writeQueued(Seq(mapper.readTree(pt(oldDay, 200 + i)))) // doomed data, queued
      } catch { case e: Throwable => errs.add(e) })
    val sweeper = new Thread(() =>
      try (0 until nWrites).foreach { _ => g.retentionSweep(today); Thread.sleep(30) }
      catch { case e: Throwable => errs.add(e) })
    writer.start(); sweeper.start(); writer.join(); sweeper.join()
    assert(errs.isEmpty, errs.toString)

    // final sweep: any old bucket a racing write recreated is dropped again;
    // queued old points landed (via the sweep's own flush) and were dropped
    // with their bucket — they must NOT resurrect from the queue afterwards
    g.retentionSweep(today)
    def liveDays() = g.fragmentation().map(_._1).toSet
    assert(liveDays() == Set(newDay), liveDays().toString)

    // no loss: every acked live-bucket point present exactly once
    val rows = g.read("""{"match_all":{}}""").collect()
      .map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toSeq
    val expected = (0 until nWrites).map(i => (newDay * 86400000L + i, i.toDouble))
    assert(rows.sorted == expected.sorted,
      s"live writes must survive the sweep: got ${rows.sorted}")
    // ...and a later read (which flushes any queue remnant) resurrects nothing
    assert(liveDays() == Set(newDay))

    // retention is a commit; vacuum down to the newest snapshot makes its
    // physical half visible: only the live bucket directory remains, and
    // the fragmentation report agrees with the real directory state
    g.vacuum(keepSnapshots = 1)
    def bucketDirs() = new java.io.File(s"$root/default").listFiles()
      .map(_.getName).filter(_.startsWith("bucket_day=")).toSet
    assert(bucketDirs() == Set(s"bucket_day=$newDay"), bucketDirs().toString)
    val rep = g.fragmentation()
    assert(rep.map(_._1).toSet == Set(newDay), rep.toString)
    val diskFiles = new java.io.File(s"$root/default/bucket_day=$newDay")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(rep.head._2 == diskFiles,
      s"report files=${rep.head._2} vs disk=$diskFiles")
  }

  // ---- continuous facade ingest (directive r11 #6)

  test("continuous ingest: sustained POSTs land without flush triggers; crash replay is exactly-once") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.nio.file.{Files, Paths}
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def post(port: Int, path: String, body: String): (Int, String) = {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val root = Files.createTempDirectory(Paths.get("target"), "graft-cont").toString
    // spoolCleanup=false: the crash sim below forges an uncommitted batch by
    // deleting its commit marker — with cleanup on, that batch's spool files
    // may already be (correctly) deleted, because a REAL crash-before-commit
    // never triggers cleanup in the first place
    val g = new graft.tsdb.Graft(spark, root, spoolCleanup = false)
    val srv = new graft.http.GraftHttpServer(g, spark, continuousIngest = true)
    val port = srv.start()
    try {
      val t0 = 1704794400000L
      def batch(b: Int): String =
        (0 until 10).map(i =>
          s"""{"time":${t0 + b * 1000 + i},"value":$i.0,"name":"cpu","host":"h$b"}""")
          .mkString("""{"points":[""", ",", "]}")
      // sustained small batches: no read, no explicit flush — just POSTs
      (0 until 3).foreach { b =>
        val (c, body) = post(port, "/write", batch(b))
        assert(c == 200 && mapper.readTree(body).get("errors").size() == 0, body)
      }
      // validation still answers per-point at POST time in continuous mode
      val (_, eb) = post(port, "/write",
        """{"points":[{"time":"nope","value":1.0,"name":"cpu","host":"x"}]}""")
      assert(mapper.readTree(eb).get("errors").get(0)
        .get("error").asText() == "invalid timestamp")
      g.awaitContinuous() // test barrier — a live client just waits a trigger
      assert(g.read("""{"match_all":{}}""").count() == 30L)

      // crash simulation at the classic dup-risk point: the micro-batch ran
      // (rows landed) but its checkpoint COMMIT is missing — delete the
      // latest commit marker, restart, and the file source replays the batch
      g.stopContinuous()
      val commits = new java.io.File(s"$root/.spool-ckpt/default/commits")
        .listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.nonEmpty)
      assert(commits.last.delete())
      // the local checksum FS keeps a .N.crc sibling; a stale one would fail
      // the replayed commit's atomic rename (this is crash-sim plumbing, not
      // engine behavior — a real crash never writes the commit at all)
      new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc").delete()
      g.startContinuousIngest()
      g.awaitContinuous()
      // the replayed batch re-appended rows with the SAME spooled __wseq —
      // the last-write-wins merge keeps exactly one row per (series, time)
      assert(g.read("""{"match_all":{}}""").count() == 30L,
        "crash replay must not duplicate points")

      // ...and the stream keeps accepting new batches after the restart
      val (c2, b2) = post(port, "/write", batch(9))
      assert(c2 == 200 && mapper.readTree(b2).get("errors").size() == 0, b2)
      g.awaitContinuous()
      val rows = g.read("""{"match_all":{}}""").collect()
        .map(r => (r.getAs[String]("host"), r.getAs[Long]("time_ms"))).toSet
      assert(rows.size == 40, s"no loss across restart: ${rows.size}")
    } finally { srv.stop(); g.stopContinuous() }
  }

  test("continuous ingest is per-space: two spaces land independently; config flag parses") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory(Paths.get("target"), "graft-cont2").toString
    val g = new graft.tsdb.Graft(spark, root)
    try {
      val t = 1704794400000L
      def pt(v: Double, host: String) = mapper.readTree(
        s"""{"time":${t + (v * 1000).toLong},"value":$v,"name":"cpu","host":"$host"}""")
      assert(g.writeSpooled(Seq(pt(1.0, "a")), "alpha").isEmpty)
      assert(g.writeSpooled(Seq(pt(2.0, "b")), "beta").isEmpty)
      g.awaitContinuous("alpha"); g.awaitContinuous("beta")
      // each space has its own standing query, spool, checkpoint and store
      assert(g.read("""{"match_all":{}}""", "alpha").count() == 1L)
      assert(g.read("""{"match_all":{}}""", "beta").count() == 1L)
      assert(g.read("""{"term":{"host":"b"}}""", "alpha").count() == 0L,
        "spaces must stay disjoint under continuous ingest")
      assert(new java.io.File(s"$root/.spool-ckpt/alpha").exists())
      assert(new java.io.File(s"$root/.spool-ckpt/beta").exists())
    } finally g.stopContinuous()

    // the config flag plumbs through loadConfig (reference config shape +
    // the graft extension key)
    val cfgPath = s"$root/cfg.json"
    Files.write(Paths.get(cfgPath),
      """{"port": 9999, "continuous_ingest": true,
          "spaces": {"default": {"table_granularity_days": 1}}}"""
        .getBytes("UTF-8"))
    val cfg = graft.tsdb.Graft.loadConfig(spark, cfgPath)
    assert(cfg.continuousIngest && cfg.port == 9999)
    // absent key defaults to the queued path
    val cfgPath2 = s"$root/cfg2.json"
    Files.write(Paths.get(cfgPath2), """{"port": 9998}""".getBytes("UTF-8"))
    assert(!graft.tsdb.Graft.loadConfig(spark, cfgPath2).continuousIngest)
  }

  test("retention sweep races CONTINUOUS ingest: stream survives, live points land, doomed buckets drop") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory(Paths.get("target"), "graft-contrace").toString
    val keep = 5
    val g = new graft.tsdb.Graft(spark, root, spaceGranularity = Map("default" -> 1),
      spaceKeepDays = Map("default" -> keep))
    try {
      val today = 19750L
      val (oldDay, newDay) = (19740L, 19749L)
      def pt(day: Long, i: Int) = mapper.readTree(
        s"""{"time":${day * 86400000L + i},"value":$i.0,"name":"cpu","host":"h$i"}""")
      // seed a doomed bucket through the stream, then race live spooled
      // writes (old + new mixed) against repeated sweeps
      g.writeSpooled(Seq(pt(oldDay, 100)))
      g.awaitContinuous()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val n = 6
      val writer = new Thread(() =>
        try (0 until n).foreach { i =>
          g.writeSpooled(Seq(pt(newDay, i), pt(oldDay, 200 + i)))
          Thread.sleep(20)
        } catch { case e: Throwable => errs.add(e) })
      val sweeper = new Thread(() =>
        try (0 until n).foreach { _ => g.retentionSweep(today); Thread.sleep(30) }
        catch { case e: Throwable => errs.add(e) })
      writer.start(); sweeper.start(); writer.join(); sweeper.join()
      assert(errs.isEmpty, errs.toString)
      // the standing query must have survived the concurrent deletes (the
      // per-space mutation lock serializes its landing jobs against them)
      g.awaitContinuous() // rethrows if the stream died
      g.retentionSweep(today)
      assert(g.fragmentation().map(_._1) == Seq(newDay))
      val rows = g.read("""{"match_all":{}}""").collect()
        .map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toSeq
      val expected = (0 until n).map(i => (newDay * 86400000L + i, i.toDouble))
      assert(rows.sorted == expected.sorted,
        s"live spooled points must survive the sweep: ${rows.sorted}")
      // vacuum down to the newest snapshot: the doomed bucket directories
      // are physically gone, the live one stays
      g.vacuum(keepSnapshots = 1)
      def buckets() = new java.io.File(s"$root/default").listFiles()
        .map(_.getName).filter(_.startsWith("bucket_day=")).toSet
      assert(buckets() == Set(s"bucket_day=$newDay"), buckets().toString)
    } finally g.stopContinuous()
  }

  // ---- IVF re-balance (directive r11 #8b)

  test("ivfRebalance: no-op on a balanced codebook, splits/drops under tight thresholds") {
    import graft.ann.Ann
    val corpusN = graft.core.Tables.embeddings(spark, Sf).count()
    // default thresholds on the (balanced) trained codebook: every cell
    // kept, so the re-balanced occupancy IS the original occupancy
    val noop = Ann.ivfRebalance(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(noop.forall(_._2 == "kept"))
    val occ = Ann.ivfOccupancy(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(noop.map(t => (t._1, t._3)).toMap == occ,
      "all-kept rebalance must reproduce the original occupancy")
    assert(noop.map(_._3).sum == corpusN)

    // tight thresholds: any above-uniform cell is hot (split), any
    // below-uniform cell is cold (dropped) — both actions exercised
    val tight = Ann.ivfRebalance(spark, Sf, hotOver = 1, coldUnder = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(tight.map(_._3).sum == corpusN, "rebalance must conserve every vector")
    val (split, kept) = tight.partition(_._2 == "split")
    assert(split.nonEmpty, "above-uniform cells must split")
    assert(split.forall(_._1 >= 1000L) && kept.forall(_._1 < 1000L))
    // dropped (cold) original cells never reappear as output cells
    val hotOrig = occ.filter { case (_, n) => n * occ.size > corpusN }.keySet
    val coldOrig = occ.filter { case (_, n) => n * occ.size < corpusN }.keySet
    assert(kept.map(_._1).toSet.intersect(coldOrig).isEmpty,
      "cold cells must be dropped from the codebook")
    // every split id traces back to a hot original cell: id = 1000 + 2c + s
    assert(split.map(t => (t._1 - 1000L) / 2).toSet.subsetOf(hotOrig))

    // the cost model: both variants reported over the SAME corpus, sum_sq
    // consistent with its definition, exp_scan = sum_sq / n_total
    val cost = Ann.ivfRebalanceCost(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(cost.map(_._1).sorted == Seq("original", "rebalanced"))
    cost.foreach { case (_, nCells, nTotal, maxCell, sumSq, expScan) =>
      assert(nTotal == corpusN && maxCell <= nTotal && nCells >= 1)
      // sum of squares over cells is bounded by maxCell * total and at
      // least total (every cell >= 1 member contributes n >= n*1)
      assert(sumSq >= nTotal && sumSq <= maxCell * nTotal)
      assert(math.abs(expScan - sumSq.toDouble / nTotal) < 1e-3)
    }
  }

  // ---- ES fuzzy knobs (r11 "missing" #2)

  test("fuzzy knobs: transpositions:false and prefix_length match Lucene's rules") {
    val s = spark; import s.implicits._
    import graft.tsdb.EsFilter
    val df = Seq("click", "cilck", "blick", "clack").toDF("event_type")
    def hits(filter: String): Set[String] =
      df.where(EsFilter.compile(filter, df.columns)).collect()
        .map(_.getString(0)).toSet

    // OSA default: the transposed 'cilck' is 1 edit from 'click'
    assert(hits("""{"fuzzy":{"event_type":{"value":"click","fuzziness":1}}}""")
      == Set("click", "cilck", "blick", "clack"))
    // transpositions:false: the transposition costs 2 -> 'cilck' drops out
    assert(hits("""{"fuzzy":{"event_type":{"value":"click","fuzziness":1,
        "transpositions":false}}}""")
      == Set("click", "blick", "clack"))
    // prefix_length 2: 'blick' (distance 1) is rejected on the pinned
    // prefix; 'clack' still matches (remainder 'ack'~'ick' = 1 edit)
    assert(hits("""{"fuzzy":{"event_type":{"value":"click","fuzziness":1,
        "prefix_length":2}}}""")
      == Set("click", "clack"))
    // both knobs together through the INTERVALS kernel path: pinned 'c',
    // plain-Levenshtein remainder budget 1
    val docs = Seq((1L, "press click now"), (2L, "press cilck now"),
      (3L, "press clack now"), (4L, "press blick now")).toDF("doc_id", "text")
    val iv = docs.where(EsFilter.compile(
      """{"intervals":{"text":{"all_of":{"max_gaps":1,"intervals":[
           {"match":{"query":"press"}},
           {"fuzzy":{"term":"click","fuzziness":1,"transpositions":false,
             "prefix_length":1}}]}}}}""", docs.columns))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(iv == Set(1L, 3L),
      s"pinned prefix drops 'blick', no-transpositions drops 'cilck': $iv")
  }

  test("fuzzy kernel properties: OSA dominates Levenshtein, prefix pinning is monotone") {
    import graft.functions.OsaDistance
    val rnd = new scala.util.Random(12)
    // tiny alphabet so edits, transpositions and shared prefixes are common
    def word() = Seq.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(4)).toChar).mkString
    (0 until 3000).foreach { _ =>
      val (a, b) = (word(), word())
      val (osa, lev) = (OsaDistance.osa(a, b), OsaDistance.lev(a, b))
      // OSA can only help: a transposition costs 1 instead of 2
      assert(osa <= lev && lev <= osa + osa, s"'$a'~'$b': osa=$osa lev=$lev")
      assert(osa >= math.abs(a.length - b.length))
      assert(OsaDistance.osa(b, a) == osa && OsaDistance.lev(b, a) == lev)
      // stripping a shared prefix never changes either distance — the
      // property prefix_length pinning relies on (match at pl implies
      // match at every smaller pl)
      val p = word()
      assert(OsaDistance.lev(p + a, p + b) == lev)
      assert(OsaDistance.osa(p + a, p + b) == osa)
    }
    // end-to-end monotonicity: raising prefix_length only shrinks the hit set
    val s = spark; import s.implicits._
    val df = Seq.fill(200)(word()).distinct.toDF("event_type")
    val term = "abca"
    val hitSets = (0 to 3).map { pl =>
      df.where(graft.tsdb.EsFilter.compile(
        s"""{"fuzzy":{"event_type":{"value":"$term","fuzziness":2,
             "prefix_length":$pl}}}""", df.columns))
        .collect().map(_.getString(0)).toSet
    }
    hitSets.sliding(2).foreach { case Seq(lo, hi) =>
      assert(hi.subsetOf(lo), s"prefix pinning must be monotone: $lo vs $hi")
    }
    assert(hitSets.head.nonEmpty, "premise: the unpinned query matches something")
  }

  test("implement-or-reject sweep: the previously-dropped ES knobs behave") {
    val s = spark; import s.implicits._
    import graft.tsdb.EsFilter
    val df = Seq("click here", "CLICK here", "clack here", "blank page")
      .toDF("event_type")
    def hits(f: String): Set[String] =
      df.where(EsFilter.compile(f, df.columns)).collect().map(_.getString(0)).toSet

    // match fuzziness: per-term fuzzy token test over the ANALYZED
    // (lowercased) field — 'clack' is 1 edit, 'CLICK' analyzes to 'click'
    assert(hits("""{"match":{"event_type":{"query":"click","fuzziness":1}}}""")
      == Set("click here", "CLICK here", "clack here"))
    // match msm: 1 of 2 terms suffices at 50%, both required at 100%
    assert(hits("""{"match":{"event_type":{"query":"click page",
        "minimum_should_match":"50%"}}}""")
      == Set("click here", "CLICK here", "blank page"))
    assert(hits("""{"match":{"event_type":{"query":"blank page",
        "minimum_should_match":"100%"}}}""")
      == Set("blank page"))
    // multi_match fuzziness is rejected, never silently dropped
    val mmErr = intercept[IllegalArgumentException] {
      hits("""{"multi_match":{"query":"click","fields":["event_type"],
          "fuzziness":1}}""")
    }
    assert(mmErr.getMessage.contains("rejected"), mmErr.getMessage)
    // query_string ~: bare = AUTO (click -> 1), ~0 = exact
    val qdf = Seq("click", "clack", "clik").toDF("event_type")
    def qhits(f: String): Set[String] =
      qdf.where(EsFilter.compile(f, qdf.columns)).collect().map(_.getString(0)).toSet
    assert(qhits("""{"query_string":{"query":"event_type:click~"}}""")
      == Set("click", "clack", "clik"))
    assert(qhits("""{"query_string":{"query":"event_type:click~0"}}""")
      == Set("click"))
    // term case_insensitive: lowered comparison; default stays sensitive
    assert(hits("""{"term":{"event_type":{"value":"CLICK HERE",
        "case_insensitive":true}}}""")
      == Set("click here", "CLICK here"))
    assert(hits("""{"term":{"event_type":"click here"}}""") == Set("click here"))
  }

  test("span_multi / span_containing: composition, merges and rejections") {
    val s = spark; import s.implicits._
    import graft.tsdb.EsFilter
    val df = Seq((1L, "hash big join now"), (2L, "merge x y join"),
      (3L, "join hash later"), (4L, "nothing here")).toDF("doc_id", "text")
    def hits(f: String): Set[Long] =
      df.where(EsFilter.compile(f, df.columns))
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // span_multi under span_first: a 'ha'-prefix span ending in the first
    // 2 positions (the r12 review crash: empty includes reduced)
    assert(hits("""{"span_first":{"match":{"span_multi":{"match":
        {"prefix":{"text":"ha"}}}},"end":2}}""") == Set(1L, 3L))
    // span_or MERGING a span_term with a span_multi (the silently-dropped
    // alternative case): 'merge' OR 'ha*' within 3 before 'join'
    assert(hits("""{"span_near":{"clauses":[
        {"span_or":{"clauses":[{"span_term":{"text":"merge"}},
                               {"span_multi":{"match":{"prefix":{"text":"ha"}}}}]}},
        {"span_term":{"text":"join"}}],"slop":3,"in_order":true}}""")
      == Set(1L, 2L))
    // span_within == span_containing in filter context
    val big = """{"span_near":{"clauses":[{"span_term":{"text":"hash"}},
        {"span_term":{"text":"now"}}],"slop":3,"in_order":true}}"""
    val cont = s"""{"span_containing":{"big":$big,
        "little":{"span_term":{"text":"join"}}}}"""
    val within = s"""{"span_within":{"big":$big,
        "little":{"span_term":{"text":"join"}}}}"""
    assert(hits(cont) == Set(1L) && hits(within) == Set(1L))
    // span_multi little works (the filter slot evaluates prefixes)
    assert(hits(s"""{"span_containing":{"big":$big,
        "little":{"span_multi":{"match":{"prefix":{"text":"jo"}}}}}}""")
      == Set(1L))
    // rejections: span_not little, unordered multi-clause little,
    // span_multi exclude, regexp inner
    intercept[IllegalArgumentException] {
      hits(s"""{"span_containing":{"big":$big,
          "little":{"span_not":{"include":{"span_term":{"text":"join"}},
                                "exclude":{"span_term":{"text":"big"}}}}}}""")
    }
    intercept[IllegalArgumentException] {
      hits(s"""{"span_containing":{"big":$big,
          "little":{"span_near":{"clauses":[{"span_term":{"text":"big"}},
              {"span_term":{"text":"join"}}],"slop":1}}}}""")
    }
    intercept[IllegalArgumentException] {
      hits("""{"span_near":{"clauses":[
          {"span_not":{"include":{"span_term":{"text":"join"}},
              "exclude":{"span_multi":{"match":{"prefix":{"text":"b"}}}}}},
          {"span_term":{"text":"now"}}],"slop":5}}""")
    }
    intercept[IllegalArgumentException] {
      hits("""{"span_near":{"clauses":[
          {"span_multi":{"match":{"regexp":{"text":"jo.*"}}}},
          {"span_term":{"text":"now"}}],"slop":5}}""")
    }
    // ...and the ORDERED multi-clause little is accepted (rules agree)
    assert(hits(s"""{"span_containing":{"big":{"span_near":{"clauses":[
        {"span_term":{"text":"hash"}},{"span_term":{"text":"now"}}],
        "slop":3,"in_order":true}},
        "little":{"span_near":{"clauses":[{"span_term":{"text":"big"}},
            {"span_term":{"text":"join"}}],"slop":1,"in_order":true}}}}""")
      == Set(1L))
  }

  test("intervals script filter: registered graft predicate sees minimal (start, end, gaps)") {
    val s = spark; import s.implicits._
    import graft.tsdb.EsFilter
    //             pos: 0     1    2     3    4
    val docs = Seq((1L, "alpha beta gamma x y"),   // beta..gamma = [1,2], 0 gaps
                   (2L, "alpha x y beta gamma"),   // beta..gamma = [3,4], 0 gaps
                   (3L, "x alpha beta y gamma z"), // beta..gamma = [2,4], 1 gap (y)
                   (4L, "beta gamma alpha x y"))   // beta..gamma = [0,1], 0 gaps
      .toDF("doc_id", "text")
    def hits(filter: String): Set[Long] =
      docs.where(EsFilter.compile(filter, docs.columns))
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // arbitrary script text is rejected with a pointer at the registry
    intercept[IllegalArgumentException] {
      hits("""{"intervals":{"text":{"all_of":{"intervals":[
               {"match":{"query":"beta"}},{"match":{"query":"gamma"}}],
               "filter":{"script":{"source":"interval.start > 1"}}}}}}""")
    }
    // unregistered graft name: clear error
    intercept[IllegalArgumentException] {
      hits("""{"intervals":{"text":{"all_of":{"intervals":[
               {"match":{"query":"beta"}},{"match":{"query":"gamma"}}],
               "filter":{"script":{"source":"graft:nope"}}}}}}""")
    }

    EsFilter.registerIntervalScript("starts_late")((start, _, _) => start >= 3)
    EsFilter.registerIntervalScript("gapless")((_, _, gaps) => gaps == 0)
    // start >= 3: only doc 2's minimal beta..gamma cover [3,4] qualifies
    assert(hits("""{"intervals":{"text":{"all_of":{"intervals":[
             {"match":{"query":"beta"}},{"match":{"query":"gamma"}}],
             "filter":{"script":{"source":"graft:starts_late"}}}}}}""")
      == Set(2L))
    // gaps == 0: adjacent beta gamma — docs 1, 2 and 4 (docs' covers with
    // an interior position drop; Lucene's interval.gaps semantics)
    assert(hits("""{"intervals":{"text":{"all_of":{"intervals":[
             {"match":{"query":"beta"}},{"match":{"query":"gamma"}}],
             "filter":{"script":{"source":"graft:gapless"}}}}}}""")
      == Set(1L, 2L, 4L))
  }
}
