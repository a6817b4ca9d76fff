package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.http.ServerMain
import graft.streaming.CdcIndexSync

/** The write-side workloads: bulk_ingest (queued group commit, write
  * only) and ingest_with_reads (continuous ingest beside live readers and
  * the maintenance sweep, in one shared session). */
object Ingest {
  val BatchPoints = 500
  val Setups = 3
  private val mapper = new ObjectMapper()

  /** One 500-point /write body and the points it carries. */
  final case class WriteBatch(no: Int, pts: Seq[(Series, Long, Double)]) {
    def json: String = pts.map { case (s, t, v) => Served.pointJson(s, t, v) }.mkString("[", ",", "]")
    lazy val tMin: Long = pts.map(_._2).min
    lazy val tMax: Long = pts.map(_._2).max
  }

  def postBatch(ctx: Ctx, c: Client, b: WriteBatch): Resp = {
    val r = c.post("/write", b.json)
    ctx.result.check(
      if (r.status != 200) Some(s"write ${b.no} -> HTTP ${r.status}")
      else {
        val errs = Check.parse(r.body).get("errors")
        if (errs == null || errs.size() != 0) Some(s"write ${b.no}: errors ${errs}") else None
      })
    r
  }

  /** The end-of-run durability check: per-series counts over everything. */
  def checkAll(ctx: Ctx, c: Client, m: Model, end: Long): Unit = {
    val q = Req.Count(Filter.All, 0L, end)
    val r = c.post(q.path, q.body)
    ctx.result.check(
      if (r.status != 200) Some(s"final count -> HTTP ${r.status}")
      else q.check(m, Check.parse(r.body), r.source))
  }

  // ---- bulk_ingest ---------------------------------------------------------

  val BulkSeries = 10000
  val BulkWriters = 2
  val FlushEvery = 20 // batches between durability barriers
  val BulkBase = 1704067200000L
  private val BulkSpanS = 26L * 7 * 86400 // 26 weekly buckets, in seconds

  /** Batch `no` of the bulk generator: seeded series and values; times are
    * a permutation of the 26-week range (one point per second slot), so no
    * two points ever share a (series, time) key. */
  def bulkBatch(seed: Long, no: Int): WriteBatch = {
    val rnd = new Random(seed * 1000003L + no)
    WriteBatch(no, (0 until BatchPoints).map { i =>
      val slot = ((no.toLong * BatchPoints + i) * 7919L) % BulkSpanS
      (Series(rnd.nextInt(BulkSeries)), BulkBase + slot * 1000L, rnd.nextInt(1000000) / 100.0)
    })
  }

  def bulk(ctx: Ctx): Unit = {
    val r = ctx.result
    val end = BulkBase + BulkSpanS * 1000L + 1
    var sv: Served = null
    var m: Model = null
    val next = new AtomicInteger()
    val setupTimes = (0 until Setups).map { i =>
      if (sv != null) sv.stop()
      val (s, t) = ctx.timed {
        val s = Served.boot(ctx.spark, ctx.work.resolve(s"bulk-$i"),
          """{"port":0,"compaction_sweep_minutes":0}""")
        // warm the write, flush and count paths on the fresh store
        m = new Model(BulkSeries)
        next.set(0)
        val c = new Client(s.port)
        (0 until 4).foreach { _ =>
          val b = bulkBatch(ctx.seed, next.getAndIncrement())
          postBatch(ctx, c, b)
          b.pts.foreach { case (se, tm, v) => m.add(se.idx, tm, v) }
        }
        s.g.flushQueued()
        checkAll(ctx, c, m, end)
        s
      }
      sv = s
      t
    }
    r.metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
    r.info("setup_runs_s") = setupTimes.map(t => f"$t%.3f").mkString(",")

    val lat, flushes, bytes = new Samples
    val flushLock = new Object
    val clients = (0 until BulkWriters).map(_ => new Client(sv.port))
    val p0 = m.points
    val tr = ctx.tracer
    val srv = sv
    val before = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    // batches handed out but not yet acked; a barrier for batches < n
    // waits for them, so each flush covers every batch of its cycle
    val pending = new java.util.concurrent.ConcurrentSkipListSet[Int]()
    def take(): Int = pending.synchronized {
      val no = next.getAndIncrement()
      pending.add(no)
      no
    }
    def barrier(n: Int): Unit = flushLock.synchronized {
      while (!pending.isEmpty && pending.first() < n) Thread.sleep(1)
      ctx.spark.sparkContext.setJobGroup(s"flush.${tr.nextId()}", "flush")
      try {
        val f0 = System.nanoTime()
        tr.span("tsdb.flush", "tsdb", tr.nextId(), 0L)(_ => srv.g.flushQueued())
        flushes.add("flush", (System.nanoTime() - f0) / 1e9)
      } finally ctx.spark.sparkContext.clearJobGroup()
    }
    def writeOne(c: Int, no: Int): Unit = {
      val b = bulkBatch(ctx.seed, no)
      // traced runs send every 4th batch of writer 0 through the facade
      // call /write makes (Graft.writeQueued), to time that layer alone
      if (ctx.traced && c == 0 && no % 4 == 0) {
        val nodes = b.pts.map { case (s, t, v) => mapper.readTree(Served.pointJson(s, t, v)) }
        val errs = tr.span("tsdb.write_queued", "tsdb", tr.nextId(), 0L)(_ => srv.g.writeQueued(nodes))
        r.check(if (errs.nonEmpty) Some(s"writeQueued ${b.no}: ${errs.head}") else None)
      } else {
        val t1 = System.nanoTime()
        val resp = postBatch(ctx, clients(c), b)
        lat.add("write", resp.total)
        bytes.add("write", resp.body.length.toDouble)
        if (ctx.traced) Layers.httpSpans(tr, "write", t1, resp)
      }
      b.pts.foreach { case (s, t, v) => m.add(s.idx, t, v) }
    }
    // writers stop at the first flush boundary after the deadline, so the
    // timed phase is whole write+barrier cycles
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val limit = new AtomicInteger(Int.MaxValue)
    val writers = (0 until BulkWriters).map { c =>
      val th = new Thread(() => {
        var no = take()
        while (no < limit.get) {
          try writeOne(c, no)
          catch { case e: Throwable => r.check(Some(s"writer $c: $e")) }
          finally pending.remove(no)
          if ((no + 1) % FlushEvery == 0) barrier(no + 1)
          if (System.nanoTime() > deadline)
            limit.compareAndSet(Int.MaxValue, (next.get / FlushEvery + 1) * FlushEvery)
          no = take()
        }
        pending.remove(no)
      }, s"graftbench-writer-$c")
      th.start(); th
    }
    writers.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    ctx.probe.settle()
    val during = ctx.probe.snapshot().since(before)
    val landed = m.points - p0
    val nBatches = (landed / BatchPoints).toInt
    r.metric("ops_per_s", landed.toDouble / BatchPoints / elapsed, "1/s", nBatches)
    r.metric("ingest_pts_per_s", landed / elapsed, "1/s", nBatches)
    r.latency("op", lat.get("write"))
    r.latency("write", lat.get("write"))
    r.latency("flush", flushes.get("flush"), tail = false)
    r.metric("heap_used_mb", ctx.heapAfterGc(), "MiB")
    r.info("store") = s"$BulkSeries series; ${m.points} points over 26 weekly buckets"
    if (ctx.traced) {
      Layers.report(ctx, Seq("write"), bytes)
      val spans = tr.all.groupBy(_.name)
      def med(n: String) = spans.get(n).map(ss => Stats.median(ss.map(_.dur)))
      med("tsdb.write_queued").foreach(r.layerMetric("tsdb.write_queued_s", _, "s"))
      med("tsdb.flush").foreach(r.layerMetric("tsdb.flush_s", _, "s"))
      val nf = spans.get("tsdb.flush").map(_.size).getOrElse(0)
      if (nf > 0) r.layerMetric("tsdb.flush_jobs", ctx.probe.sum("flush.").jobs.get.toDouble / nf, "count")
      val frag = sv.g.fragmentation()
      r.layerMetric("tsdb.files_per_bucket", frag.map(_._2).sum.toDouble / math.max(1, frag.size), "count")
      ctx.phaseLayers(during, nBatches)
    }
    checkAll(ctx, clients(0), m, end)
    sv.stop()
  }

  // ---- ingest_with_reads ---------------------------------------------------

  val LiveSeries = 1000
  val PreloadPerSeries = 20
  val PreloadDays = 28
  val LiveBase = Dashboard.BaseMs
  val LiveStart: Long = LiveBase + PreloadDays * Req.DayMs // ingest appends after the preload
  val BatchesPerSecond = 4.0
  val Readers = 2
  val SweepEveryMs = 2000L

  /** Live batch `no`: 500 points at 2 ms steps inside its own second,
    * spread over the series; seeded values. */
  def liveBatch(seed: Long, no: Int): WriteBatch = {
    val rnd = new Random(seed * 1000033L + no)
    val base = LiveStart + no * 1000L
    WriteBatch(no, (0 until BatchPoints).map { i =>
      (Series((i * 7 + no * 13) % LiveSeries), base + i * 2L, rnd.nextInt(1000000) / 100.0)
    })
  }

  def withReads(ctx: Ctx): Unit = {
    val r = ctx.result
    val m = new Model(LiveSeries)
    val rnd0 = new Random(ctx.seed)
    val slot = PreloadDays * Req.DayMs / PreloadPerSeries
    val rows = for (s <- m.series; k <- 0 until PreloadPerSeries) yield {
      val t = LiveBase + k * slot + rnd0.nextInt(slot.toInt)
      val v = rnd0.nextInt(1000000) / 100.0
      m.add(s.idx, t, v)
      (s, t, v)
    }
    val frame = Served.frame(ctx.spark, rows)
    var sv: Served = null
    val setupTimes = (0 until Dashboard.Setups).map { i =>
      if (sv != null) sv.stop()
      val (s, t) = ctx.timed {
        val s = Served.boot(ctx.spark, ctx.work.resolve(s"live-$i"),
          """{"port":0,"continuous_ingest":true,"search_index":true,"compaction_sweep_minutes":0}""")
        s.g.write(frame)
        s.g.compactionSweep()
        ServerMain.searchIndexSweep(s.g, s"${s.root}/.search-index")
        // boot the standing ingest query and warm each route once
        val c = new Client(s.port)
        // (the same point on every set-up, so the model holds it once)
        val w = WriteBatch(-1, Seq((Series(0), LiveStart - 1000L, 1.5)))
        w.pts.foreach { case (se, tm, v) => m.add(se.idx, tm, v) }
        postBatch(ctx, c, w)
        s.g.awaitContinuous()
        Seq(Req.Read(Filter.Term("host", "h000"), w.tMin, w.tMax + 1),
          Dashboard.request(m, new Random(ctx.seed + i), "search", 0)).foreach(q =>
          Layers.exchange(ctx, c, m, q, new Samples, new Samples))
        s
      }
      sv = s
      t
    }
    r.metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
    r.info("setup_runs_s") = setupTimes.map(t => f"$t%.3f").mkString(",")
    val srv = sv
    val tr = ctx.tracer
    val lat, bytes, lag, late, sweeps = new Samples
    val acked = new AtomicReference[(WriteBatch, Long)](null) // newest acked batch, ack time
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sources = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    @volatile var running = true
    val before = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    val secs = ctx.seconds

    // the open-loop writer: batch b is due at t0 + b / rate
    val writer = new Thread(() => {
      val c = new Client(srv.port)
      var b = 0
      while (running && (System.nanoTime() - t0) / 1e9 < secs) {
        val due = t0 + (b / BatchesPerSecond * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val batch = liveBatch(ctx.seed, b)
        val sent = System.nanoTime()
        late.add("late", (sent - due) / 1e9)
        // points enter the model before the ack: a reader may see them
        // as soon as the server accepted them
        batch.pts.foreach { case (s, t, v) => m.add(s.idx, t, v) }
        try {
          val resp = postBatch(ctx, c, batch)
          val ack = System.nanoTime()
          lat.add("write", (ack - due) / 1e9)
          if (ctx.traced) Layers.httpSpans(tr, "write", sent, resp)
          acked.set((batch, ack))
        } catch { case e: Throwable => r.check(Some(s"writer: $e")) }
        b += 1
      }
    }, "graftbench-writer")

    // the maintenance sweep on a fixed cadence: compaction, then index sync
    val sweeper = new Thread(() => {
      var next = System.nanoTime() + SweepEveryMs * 1000000L
      while (running) {
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000)
        if (running) {
          next += SweepEveryMs * 1000000L
          ctx.spark.sparkContext.setJobGroup(s"sweep.${tr.nextId()}", "sweep")
          try {
            val (_, tc) = ctx.timed(tr.span("streaming.sweep_compact", "streaming", tr.nextId(), 0L)(
              _ => srv.g.compactionSweep()))
            val (_, ti) = ctx.timed(tr.span("streaming.sweep_index", "streaming", tr.nextId(), 0L)(
              _ => ServerMain.searchIndexSweep(srv.g, s"${srv.root}/.search-index")))
            sweeps.add("compact", tc); sweeps.add("index", ti)
          } catch { case e: Throwable => r.check(Some(s"sweep: $e")) }
          finally ctx.spark.sparkContext.clearJobGroup()
        }
      }
    }, "graftbench-sweeper")

    writer.start(); sweeper.start()
    // replays (traced runs) read the batch seen last, so they find data
    val lastSeen = new AtomicReference[(WriteBatch, Long)](null)
    val replay =
      if (ctx.traced) Some(Layers.replayLoop(ctx, srv,
        rnd => liveRead(m, Option(lastSeen.get).getOrElse(acked.get), rnd), () => !running))
      else None
    val clients = (0 until Readers).map(_ => new Client(srv.port))
    // each reader probes one target batch (the newest acked one when it
    // picked it) until a read returns all of that batch's points for the
    // series read: that read gives the batch's visible lag
    val targets = Array.fill[(WriteBatch, Long)](Readers)(null)
    val readsElapsed = ctx.closedLoop(Readers, secs) { (c, rnd) =>
      if (targets(c) == null || seen.contains(targets(c)._1.no)) targets(c) = acked.get
      val tgt = targets(c)
      val q = if (tgt == null || rnd.nextInt(3) == 0) Dashboard.request(m, rnd, "search", 0)
              else liveRead(m, tgt, rnd)
      val resp = Layers.exchange(ctx, clients(c), m, q, lat, bytes)
      if (q.route == "search")
        sources.computeIfAbsent(resp.source, _ => new AtomicLong()).incrementAndGet()
      q match {
        case rd: Req.Read =>
          val body = Check.parse(resp.body).get("series")
          val want = m.series.filter(rd.filter.matches)
            .map(s => m.countIn(s.idx, rd.start, rd.end)).sum
          val got = (0 until body.size()).map(body.get(_).get("points").size()).sum
          if (want > 0 && got == want && seen.add(tgt._1.no)) {
            lag.add("lag", (System.nanoTime() - tgt._2) / 1e9)
            lastSeen.set(tgt)
          }
        case _ => ()
      }
    }
    running = false
    writer.join(); sweeper.join()
    replay.foreach(_.join())
    // durability barrier: every acked spool file has landed
    srv.g.awaitContinuous()
    val elapsed = (System.nanoTime() - t0) / 1e9
    ctx.probe.settle()
    val during = ctx.probe.snapshot().since(before)
    val written = lat.get("write").size * BatchPoints
    r.metric("ingest_pts_per_s", written / elapsed, "1/s", lat.get("write").size)
    val reads = lat.get("read") ++ lat.get("search")
    r.metric("ops_per_s", reads.size / readsElapsed, "1/s", reads.size)
    // the key operation beside ingest is the narrow read of fresh data
    r.latency("op", lat.get("read"))
    r.latency("all", reads)
    r.latency("read", lat.get("read"))
    r.latency("search", lat.get("search"))
    r.latency("write", lat.get("write"))
    r.latency("writer_late", late.get("late"), tail = false)
    r.latency("visible_lag", lag.get("lag"), tail = false)
    r.metric("heap_used_mb", ctx.heapAfterGc(), "MiB")
    r.info("store") = s"$LiveSeries series; ${rows.size} preloaded points + " +
      s"${BatchesPerSecond} batches/s of $BatchPoints points"
    if (ctx.traced) {
      val (nb, parse, land) = srv.g.continuousStats()
      r.layerMetric("streaming.micro_batches", nb.toDouble, "count")
      r.layerMetric("streaming.parse_s", parse, "s")
      r.layerMetric("streaming.land_s", land, "s")
      if (sweeps.get("index").nonEmpty) {
        r.layerMetric("streaming.sweep_index_s", Stats.median(sweeps.get("index")), "s")
        r.layerMetric("streaming.sweep_compact_s", Stats.median(sweeps.get("compact")), "s")
      }
      val idx = CdcIndexSync.state(ctx.spark, srv.idxDir).map(_.snap).getOrElse(0L)
      r.layerMetric("streaming.index_lag_snapshots",
        srv.g.snapshots().lastOption.map(_ - idx).getOrElse(0L).toDouble, "count")
      val nSearch = sources.values().asScala.map(_.get).sum
      r.layerMetric("streaming.search_index_served_ratio",
        Option(sources.get("index")).map(_.get).getOrElse(0L).toDouble / math.max(1L, nSearch), "ratio")
      Layers.report(ctx, Seq("read", "search", "write"), bytes)
      ctx.phaseLayers(during, reads.size + lat.get("write").size)
    }
    // final sync, then the index and the direct scan must agree on hits
    ServerMain.searchIndexSweep(srv.g, s"${srv.root}/.search-index")
    checkAll(ctx, clients(0), m, LiveStart + 86400000L)
    searchAgreement(ctx, srv, m)
    sv.stop()
  }

  /** A narrow /read aimed at the newest acked batch: one of its series,
    * over exactly that batch's second. */
  def liveRead(m: Model, newest: (WriteBatch, Long), rnd: Random): Req =
    if (newest == null) Dashboard.request(m, rnd, "search", 0)
    else {
      val (b, _) = newest
      val s = b.pts(rnd.nextInt(b.pts.size))._1
      Req.Read(Filter.Must(Seq(Filter.Term("host", s.host), Filter.Term("metric", s.metric))),
        b.tMin, b.tMax + 1, subset = true)
    }

  /** End of run: for a few host queries the index-served hit count equals
    * the direct scan's (`Graft.searchUnpinned`). */
  def searchAgreement(ctx: Ctx, sv: Served, m: Model): Unit = {
    val rnd = new Random(ctx.seed * 17 + 3)
    (0 until 3).foreach { _ =>
      val hosts = Seq(m.host(rnd.nextInt(m.nHosts)))
      val idx = CdcIndexSync.search(ctx.spark, sv.idxDir, hosts, 20).count()
      val (df, cleanup) = sv.g.searchUnpinned(hosts, "default", 20)
      val direct = try df.count() finally cleanup()
      ctx.result.check(if (idx != direct)
        Some(s"search ${hosts.head}: index has $idx hits, searchUnpinned $direct") else None)
    }
  }
}
