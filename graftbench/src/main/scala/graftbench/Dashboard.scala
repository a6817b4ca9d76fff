package graftbench

import scala.util.Random

/** dashboard_reads: a read-only closed loop of 4 clients against a
  * pre-loaded, compacted, indexed manifest store. */
object Dashboard {
  val NSeries = 1000
  val PointsPerSeries = 40
  val Days = 28 // 4 weekly buckets
  val BaseMs = 1703721600000L // 2023-12-28T00:00Z, a 7-day bucket boundary
  // two set-ups: the first also pays the JVM's warm-up, and a third would
  // not fit the run-time budget of the whole benchmark
  val Setups = 2
  val Clients = 4

  /** The seeded store: each series has `PointsPerSeries` points, one per
    * equal slot of the `Days` days at a seeded offset, with seeded values. */
  def model(seed: Long): (Model, Seq[(Series, Long, Double)]) = {
    val m = new Model(NSeries)
    val rnd = new Random(seed)
    val slot = Days * Req.DayMs / PointsPerSeries
    val rows = for (s <- m.series; k <- 0 until PointsPerSeries) yield {
      val t = BaseMs + k * slot + rnd.nextInt(slot.toInt)
      val v = rnd.nextInt(1000000) / 100.0
      m.add(s.idx, t, v)
      (s, t, v)
    }
    (m, rows)
  }

  val RangeEnd: Long = BaseMs + Days * Req.DayMs + 1

  /** The `k`-th request of a client for `route`, with seeded parameters:
    * narrow reads cover one day, count and series one week, wide reads the
    * whole range. `k` cycles the filter shapes, so the share of each shape
    * is the same whatever the seed. */
  def request(m: Model, rnd: Random, route: String, k: Int): Req = {
    val wStart = BaseMs + rnd.nextInt(Days / 7) * 7 * Req.DayMs
    def metric = Series.Metrics(rnd.nextInt(Series.Metrics.size))
    def region = s"r${rnd.nextInt(Series.Regions)}"
    def hostPrefix = m.host(rnd.nextInt(m.nHosts)).take(3)
    route match {
      case "read" =>
        val s = BaseMs + rnd.nextInt(Days) * Req.DayMs
        Req.Read(Req.narrowFilter(m, rnd, k), s, s + Req.DayMs)
      case "count" =>
        Req.Count(if (k % 2 == 0) Filter.Term("metric", metric) else Filter.Prefix("host", hostPrefix),
          wStart, wStart + 7 * Req.DayMs)
      case "series" => Req.SeriesOf(Filter.Term("region", region), wStart, wStart + 7 * Req.DayMs)
      case "distinct" =>
        if (k % 2 == 0) Req.Distinct(Seq("host"), Filter.Term("region", region))
        else Req.Distinct(Seq("metric", "region"), Filter.Prefix("host", hostPrefix))
      case "search" =>
        Req.Search((0 to k % 2).map(_ => m.host(rnd.nextInt(m.nHosts))).distinct)
      case "read_wide" => Req.Read(Filter.Term("metric", metric), 0L, RangeEnd, wide = true)
    }
  }

  val Routes: Seq[String] = Seq("read", "count", "series", "distinct", "search", "read_wide")

  /** Each client cycles through this mix from its own offset, so every run
    * sends the same share of each route whatever the seed: 60% narrow
    * reads, 10% search, 10% count, 10% series, 5% select_distinct, 5% wide
    * reads. */
  val Mix: Vector[String] = Vector("read", "search", "read", "count", "read", "series",
    "read", "read", "distinct", "read", "read", "search", "read", "count", "read",
    "series", "read", "read", "read_wide", "read")

  /** Boot the facade, load the store, compact it and build its index. */
  def setup(ctx: Ctx, rows: Seq[(Series, Long, Double)], i: Int): Served = {
    val sv = Served.boot(ctx.spark, ctx.work.resolve(s"dash-$i"),
      """{"port":0,"search_index":true,"compaction_sweep_minutes":0}""")
    val (_, tw) = ctx.timed(sv.g.write(Served.frame(ctx.spark, rows)))
    val (_, tc) = ctx.timed(sv.g.compactionSweep())
    val (_, ti) = ctx.timed(graft.http.ServerMain.searchIndexSweep(sv.g, s"${sv.root}/.search-index"))
    ctx.result.info(s"setup_$i") = f"write $tw%.2f s, compact $tc%.2f s, index $ti%.2f s"
    sv
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val (m, rows) = model(ctx.seed)
    var sv: Served = null
    val setupTimes = (0 until Setups).map { i =>
      if (sv != null) sv.stop()
      val (s, t) = ctx.timed(setup(ctx, rows, i))
      sv = s
      t
    }
    r.metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
    r.info("setup_runs_s") = setupTimes.map(t => f"$t%.3f").mkString(",")
    r.info("store") = s"$NSeries series, ${rows.size} points, $Days days in 7-day buckets"
    // one checked request per route before the clock starts
    val warm = new Random(ctx.seed + 1)
    Routes.foreach(rt => Layers.exchange(ctx, new Client(sv.port), m, request(m, warm, rt, 0),
      new Samples, new Samples))

    val lat, bytes = new Samples
    val clients = (0 until Clients).map(_ => new Client(sv.port))
    val before = ctx.probe.snapshot()
    val sent = Array.fill(Clients)(0)
    val perRoute = Array.fill(Clients)(scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0))
    val elapsed = ctx.closedLoop(Clients, ctx.seconds) { (c, rnd) =>
      val route = Mix((sent(c) + c * Mix.size / Clients) % Mix.size)
      sent(c) += 1
      perRoute(c)(route) += 1
      Layers.exchange(ctx, clients(c), m, request(m, rnd, route, perRoute(c)(route)), lat, bytes)
    }
    ctx.probe.settle()
    val during = ctx.probe.snapshot().since(before)
    reportLatency(ctx, lat, elapsed)
    r.metric("heap_used_mb", ctx.heapAfterGc(), "MiB")
    if (ctx.traced) {
      // layer-by-layer replays after the timed loop, on the quiet store:
      // a few rounds over every route
      val rnd = new Random(ctx.seed * 31 + 5)
      for (k <- 0 until 4; rt <- Routes) Replay.run(request(m, rnd, rt, k), sv, ctx.spark, ctx.tracer)
      Layers.report(ctx, Routes, bytes)
      ctx.phaseLayers(during, lat.kinds.map(lat.get(_).size).sum)
    }
    sv.stop()
  }

  def reportLatency(ctx: Ctx, lat: Samples, elapsed: Double): Unit = {
    val r = ctx.result
    val all = lat.kinds.flatMap(lat.get)
    r.metric("ops_per_s", all.size / elapsed, "1/s", all.size)
    // the key operation of a dashboard is the narrow read
    r.latency("op", lat.get("read"))
    r.latency("all", all)
    r.latency("read", lat.get("read"))
    r.latency("read_wide", lat.get("read_wide"), tail = false)
    r.latency("count", lat.get("count"), tail = false)
    r.latency("series", lat.get("series"), tail = false)
    r.latency("distinct", lat.get("distinct"), tail = false)
    r.latency("search", lat.get("search"))
  }
}
