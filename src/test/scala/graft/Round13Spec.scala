package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: the applied IVF rebalance (report → decision → new
  * index generation), compaction racing continuous ingest and readers, and
  * the sqlView clobber guard.
  */
class Round13Spec extends SparkTestBase {

  // ---- applyRebalance (VERDICT r12 directive #2)

  test("applyRebalance: go writes versioned artifacts; consumers probe the new cells; no-go writes nothing") {
    import graft.ann.Ann
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory(Paths.get("target"), "graft-rebal").toString

    // the gate is ivfRebalanceCost's own E[scan] model: its aggressive
    // defaults (hotOver=coldUnder=1) are a GO at this SF (sum of squared
    // occupancies drops) — the premise the apply path rides
    val cost = Ann.ivfRebalanceCost(spark, Sf).collect()
      .map(r => r.getAs[String]("variant") -> r.getAs[Double]("exp_scan")).toMap
    assert(cost("rebalanced") < cost("original"),
      s"test premise: tight thresholds must be a GO here, got $cost")

    val applied = Ann.applyRebalance(spark, Sf, root, hotOver = 1, coldUnder = 1)
    assert(applied.nonEmpty, "go verdict must write the new index generation")
    val (cbPath, invPath) = applied.get
    // format-versioned paths, _SUCCESS-gated parquet (the saveCodebooks tier)
    assert(cbPath.contains("v1_") && invPath.contains("v1_"))
    assert(new java.io.File(cbPath, "_SUCCESS").exists())
    assert(new java.io.File(invPath, "_SUCCESS").exists())

    val cents = Ann.loadCodebook(spark, cbPath).localCheckpoint(true)
    val inv = spark.read.parquet(invPath).localCheckpoint(true)

    // the applied inverted file IS the reported rebalanced occupancy —
    // rebalancedAssignments is shared, so "rebalanced" means one thing
    val occ = inv.groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val reported = Ann.ivfRebalance(spark, Sf, hotOver = 1, coldUnder = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(occ == reported,
      "applied inverted file must reproduce the rebalance report's occupancy")
    assert(occ.keySet.exists(_ >= 1000L),
      "the applied index must contain the split cells")

    // mass conserved: every corpus vector in exactly one cell
    val n = graft.core.Tables.embeddings(spark, Sf).count()
    assert(inv.count() == n && inv.select(col("vec_id")).distinct().count() == n)

    // the inverted file is CONSISTENT with the codebook it ships with:
    // each row's cell is the argmax-cosine centroid (ties to smaller c_id)
    // — recomputed here from the loaded artifacts alone, the way a fresh
    // search session would
    val e = Ann.quantNormTable(spark, Sf)
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    val re = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("c_id"),
        round(try_divide(graft.functions.VectorFunctions.dot(spark, col("v"), col("cv")),
          col("nrm") * col("cn")), 6).as("c_cos"))
      .withColumn("arn", row_number().over(wA)).where(col("arn") === 1)
      .select(col("vec_id"), col("c_id").as("cell2"))
    assert(inv.join(re, "vec_id").where(col("cell") =!= col("cell2")).count() == 0,
      "every applied assignment must be the argmax centroid of the applied codebook")

    // the three probed-cell consumers run against the NEW generation
    val knn = Ann.knnClassifyIvfWith(spark, Sf, cents)
    assert(knn.count() > 0)
    assert(knn.where(col("correct") > 1 || col("correct") < 0).count() == 0)
    val sq8 = Ann.ivfSq8TopKWith(spark, Sf, cents)
    assert(sq8.count() > 0 && sq8.where(col("rank") > 5).count() == 0)
    val filt = Ann.ivfFilteredTopKWith(spark, Sf, cents)
    assert(filt.count() > 0 && filt.where(col("label") > 2).count() == 0,
      "filtered search must respect the predicate under the new codebook")

    // determinism of the whole loop: a second apply to a fresh root writes
    // bit-identical artifacts (what makes load-vs-rebuild interchangeable)
    val root2 = Files.createTempDirectory(Paths.get("target"), "graft-rebal2").toString
    val (cbPath2, invPath2) =
      Ann.applyRebalance(spark, Sf, root2, hotOver = 1, coldUnder = 1).get
    assert(Ann.loadCodebook(spark, cbPath2).collect().toSet
      == cents.collect().toSet)
    assert(spark.read.parquet(invPath2).collect().toSet == inv.collect().toSet)

    // NO-GO: drops-only thresholds (no cell can be hot at hotOver=1000;
    // below-uniform cells all drop) never lower Σn²/N — nothing is written
    val root3 = Files.createTempDirectory(Paths.get("target"), "graft-rebal3").toString
    assert(Ann.applyRebalance(spark, Sf, root3, hotOver = 1000, coldUnder = 1).isEmpty)
    assert(!new java.io.File(s"$root3/codebooks").exists(),
      "a no-go verdict must not write artifacts")
    // force records operator judgment (e.g. probe-count hygiene) explicitly
    assert(Ann.applyRebalance(spark, Sf, root3, hotOver = 1000, coldUnder = 1,
      force = true).nonEmpty)
  }

  // ---- sqlView clobber guard (ADVICE r12)

  test("sqlView never clobbers a view this store did not create; re-registering its own stays fresh") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory(Paths.get("target"), "graft-sqlv").toString
    val g = new graft.tsdb.Graft(spark, root)
    def pt(i: Int) = mapper.readTree(
      s"""{"time":${1704794400000L + i},"value":$i.0,"name":"cpu","host":"h$i"}""")
    g.writeQueued(Seq(pt(1)), "r13space")

    // a user-registered view squatting on the reserved name: loud failure,
    // view left intact
    Seq((1, "user data")).toDF("a", "b").createOrReplaceTempView("graft_r13space")
    val err = intercept[IllegalStateException] { g.sqlView("r13space") }
    assert(err.getMessage.contains("graft_r13space")
      && err.getMessage.contains("not created by this store"))
    assert(spark.table("graft_r13space").columns.toSeq == Seq("a", "b"),
      "the user's view must survive the refused registration")

    // dropped -> registration proceeds; re-registration (freshness) is fine
    spark.catalog.dropTempView("graft_r13space")
    assert(g.sqlView("r13space") == "graft_r13space")
    assert(spark.table("graft_r13space").count() == 1L)
    g.writeQueued(Seq(pt(2)), "r13space")
    assert(g.sqlView("r13space") == "graft_r13space")
    assert(spark.table("graft_r13space").count() == 2L,
      "re-registering our own view must refresh it")

    // a SECOND store on the same session hits the same guard — two stores
    // sharing a session must not silently swap each other's views
    val g2 = new graft.tsdb.Graft(spark,
      Files.createTempDirectory(Paths.get("target"), "graft-sqlv2").toString)
    g2.writeQueued(Seq(pt(3)), "r13space")
    intercept[IllegalStateException] { g2.sqlView("r13space") }
    spark.catalog.dropTempView("graft_r13space")
  }

  // ---- the rows-only floor, auditable in one place (directive r12 #6)

  test("rows-only floor: every no-oracle query is bounded by a property") {
    // the declared rows-only set is EXACTLY these six engine-specific
    // queries (HLL, GK sketch, Spark bloom bits, Misra–Gries, approx
    // twin, zlib) — a seventh no-oracle query fails HERE, not silently
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("approx_distinct", "approx_quantile",
      "dedup_bloom", "heavy_hitters", "skew_stats_approx",
      "text_compression"), s"undeclared rows-only queries: $rowsOnly")
    def run(name: String) = SparkEntry.queries(name)(spark, Sf)

    // approx_distinct — HLL at rsd=0.02: per group within ~3σ of exact
    val exactD = graft.core.Tables.events(spark, Sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    run("approx_distinct").collect().foreach { r =>
      val (t, approx) = (r.getString(0), r.getLong(1))
      assert(math.abs(approx - exactD(t)) <= 3 * 0.02 * exactD(t) + 3,
        s"HLL bound violated for $t: $approx vs ${exactD(t)}")
    }

    // approx_quantile — GK at accuracy 10000: each returned percentile's
    // RANK lies within the ε·n window of its target rank (ε = 1/10000)
    val valsByType = graft.core.Tables.events(spark, Sf)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getDouble(1)).sorted }
    run("approx_quantile").collect().foreach { r =>
      val t = r.getString(0)
      val vs = valsByType(t); val n = vs.length
      val tol = n / 10000.0 + 1
      Seq(0.5 -> r.getDouble(2), 0.95 -> r.getDouble(3),
          0.99 -> r.getDouble(4)).foreach { case (p, v) =>
        val le = vs.count(_ <= v + 1e-4) // v is 4dp-rounded
        val lt = vs.count(_ < v - 1e-4)
        assert(le >= p * n - tol && lt <= p * n + tol,
          s"GK rank window violated for $t p$p: v=$v le=$le lt=$lt n=$n")
      }
    }

    // heavy_hitters — Misra–Gries capacity 20: never overcounts, and
    // undercounts by at most N/capacity
    val tokCounts = graft.core.Tables.documents(spark, Sf)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTok = tokCounts.values.sum
    val hh = run("heavy_hitters").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(hh.nonEmpty)
    hh.foreach { case (item, approx) =>
      val exact = tokCounts.getOrElse(item, 0L)
      assert(approx <= exact && exact - approx <= nTok / 20,
        s"MG bound violated for '$item': approx=$approx exact=$exact N=$nTok")
    }

    // dedup_bloom — Spark bloom bits: NO false negative (every exact dup
    // is a bloom hit), and the false-POSITIVE rate on true non-dups stays
    // sane for 10 bits/key (~0.8% expected); the query carries its own
    // exact_dup ground truth next to the bloom_hit bit
    val flags = run("dedup_bloom").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bloom_hit"),
        r.getAs[Long]("exact_dup"))).toSeq
    assert(flags.nonEmpty)
    assert(flags.filter(_._3 == 1L).forall(_._2 == 1L),
      "bloom must never miss a true duplicate (no false negatives)")
    val nonDup = flags.filter(_._3 == 0L)
    val fpr = nonDup.count(_._2 == 1L).toDouble / math.max(nonDup.size, 1)
    assert(fpr <= 0.05, s"bloom FPR out of range: $fpr")

    // text_compression — zlib: positive sizes, ratio is exactly the
    // rounded quotient, bounded, and the whole query is deterministic
    val tc = run("text_compression").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(tc.nonEmpty)
    tc.foreach { case (_, raw, comp, ratio) =>
      assert(raw > 0 && comp > 0 && ratio > 0 && ratio <= 1.5)
      assert(ratio == math.rint(comp.toDouble / raw * 10000) / 10000.0,
        "ratio column must be the rounded quotient of the size columns")
    }
    assert(run("text_compression").collect().map(_.toSeq).toSeq
      == tc.map(t => Seq[Any](t._1, t._2, t._3, t._4)).toSeq,
      "zlib compression must be deterministic run to run")

    // skew_stats_approx — the sketch twin of the exact skew_stats: exact
    // aggregate columns agree exactly; sketched multiplicity percentiles
    // obey the same GK rank window as approx_quantile
    val mults = graft.core.Tables.lineitem(spark, Sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1)).sorted
    val sk = run("skew_stats_approx").collect().head
    assert(sk.getAs[Long]("n_keys") == mults.length)
    assert(sk.getAs[Long]("n_rows") == mults.sum)
    assert(sk.getAs[Long]("max_mult") == mults.max)
    val tolM = mults.length / 10000.0 + 1
    Seq(0.5 -> sk.getAs[Double]("p50_mult"),
        0.99 -> sk.getAs[Double]("p99_mult")).foreach { case (p, v) =>
      val le = mults.count(_ <= v); val lt = mults.count(_ < v)
      assert(le >= p * mults.length - tolM && lt <= p * mults.length + tolM,
        s"GK rank window violated for mult p$p: $v")
    }
  }

  // ---- compact() racing continuous ingest + readers (directive r12 #3)

  test("compact races continuous ingest and readers: zero loss/dup, stamps retired, late writes still win LWW") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.nio.file.{Files, Paths}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def post(port: Int, path: String, body: String): (Int, String) = {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val root = Files.createTempDirectory(Paths.get("target"), "graft-cpct").toString
    val g = new graft.tsdb.Graft(spark, root)
    val srv = new graft.http.GraftHttpServer(g, spark, continuousIngest = true)
    val port = srv.start()
    try {
      val t0 = 1704794400000L
      def batch(b: Int, value: Int => Double): String =
        (0 until 10).map(i =>
          s"""{"time":${t0 + i * 1000},"value":${value(i)},"name":"cpu","host":"h$b-$i"}""")
          .mkString("""{"points":[""", ",", "]}")
      // wave 0 lands and is compacted: its stamps retire before the race
      val (c0, b0) = post(port, "/write", batch(0, _.toDouble))
      assert(c0 == 200 && mapper.readTree(b0).get("errors").size() == 0, b0)
      g.awaitContinuous()
      g.compact()
      assert(g.fragmentation().forall(!_._4),
        "pre-race compaction must retire every stamp")

      // the race: sustained POSTs + repeated compact() + streaming reads
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val waves = 6
      val writer = new Thread(() =>
        try (1 to waves).foreach { b =>
          val (c, body) = post(port, "/write", batch(b, _.toDouble))
          assert(c == 200 && mapper.readTree(body).get("errors").size() == 0, body)
          Thread.sleep(15)
        } catch { case e: Throwable => errs.add(e) })
      val compactor = new Thread(() =>
        try (0 until waves).foreach { _ => g.compact(); Thread.sleep(25) }
        catch { case e: Throwable => errs.add(e) })
      // readers plan from a pinned snapshot and compaction deletes nothing,
      // so neither the facade nor the library API needs a retry: every
      // read mid-swap must succeed on its first attempt
      val reader = new Thread(() =>
        try (0 until waves).foreach { _ =>
          val (rc, _) = post(port, "/read",
            """{"filter":{"term":{"host":"h0-3"}}}""")
          assert(rc == 200)
          // full-store scan mid-swap through the library API
          g.read("""{"match_all":{}}""").count()
          Thread.sleep(10)
        } catch { case e: Throwable => errs.add(e) })
      writer.start(); compactor.start(); reader.start()
      writer.join(); compactor.join(); reader.join()
      assert(errs.isEmpty, s"race must be clean: ${errs.toString}")
      g.awaitContinuous()

      // zero loss, zero dup across every wave that raced compaction
      val rows = g.read("""{"match_all":{}}""").collect()
        .map(r => (r.getAs[String]("host"), r.getAs[Long]("time_ms"))).toSeq
      assert(rows.size == rows.distinct.size, "no duplicated (series, time)")
      assert(rows.size == (waves + 1) * 10,
        s"no lost points: ${rows.size} vs ${(waves + 1) * 10}")

      // quiesced compaction retires ALL stamps -> reads are window-free
      g.compact()
      assert(g.fragmentation().forall(!_._4),
        "post-race compaction must retire every stamp")
      val plan = g.read("""{"match_all":{}}""").queryExecution.executedPlan.toString
      assert(!plan.contains("WindowGroupLimit") && !plan.contains("__wseq"),
        s"fully compacted reads must carry no merge window:\n$plan")

      // ...and a LATER spooled write still wins last-write-wins against the
      // compacted (stamp-less) row it overwrites
      val (cw, bw) = post(port, "/write",
        s"""{"points":[{"time":${t0 + 3000},"value":99.5,"name":"cpu","host":"h0-3"}]}""")
      assert(cw == 200 && mapper.readTree(bw).get("errors").size() == 0, bw)
      g.awaitContinuous()
      val over = g.read("""{"term":{"host":"h0-3"}}""").collect()
        .map(r => (r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toMap
      assert(over(t0 + 3000) == 99.5,
        s"spooled overwrite must win LWW over the compacted row: $over")
      assert(g.read("""{"match_all":{}}""").count() == (waves + 1) * 10,
        "the overwrite must replace, not add")
    } finally { srv.stop(); g.stopContinuous() }
  }

  // ---- BM25 ranked retrieval (r13 widening: the ES scoring context)

  test("bm25: the batch scorer and the single-query scorer agree; scores are positive and ranked") {
    import graft.text.TextOps
    // two independent plans (map-side literal pivot vs query-table join),
    // one scoring definition — their (doc, score) lists must be identical
    // for the same query
    val single = TextOps.bm25TopK(spark, Sf, Seq("spark", "join"), k = 5)
      .collect()
    val batch = TextOps.bm25Batch(spark, Sf).collect()
      .filter(_.getAs[Int]("query_id") == 1)
      .sortBy(_.getAs[Long]("rank"))
    assert(single.nonEmpty && batch.nonEmpty, "test corpus must match query 1")
    val ss = single.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val bs = batch.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(bs == ss.take(bs.length), s"batch $bs\nvs single $ss")
    // BM25 invariants on the output: Lucene's idf is never negative, so
    // every emitted score is > 0, and the list is rank-ordered
    assert(ss.forall(_._2 > 0))
    assert(ss.map(-_._2) == ss.map(-_._2).sorted, "descending by score")
  }

  // ---- trained quality classifier (r13 widening: GD training replay)

  test("quality classifier: batch GD genuinely learns — accuracy beats the majority baseline") {
    import graft.text.TextOps
    val e = TextOps.qualityEval(spark, Sf).collect()(0)
    val n = e.getAs[Long]("n")
    val tp = e.getAs[Long]("tp"); val fp = e.getAs[Long]("fp")
    val fn = e.getAs[Long]("fn"); val tn = e.getAs[Long]("tn")
    assert(tp + fp + fn + tn == n, "confusion counts partition the corpus")
    val acc = e.getAs[Double]("accuracy")
    val nPos = tp + fn
    val majority = math.max(nPos, n - nPos).toDouble / n
    // the classifier must beat always-predict-majority by a real margin —
    // the bigram-LLR feature carries the corpus's language signal, and a
    // degenerate never-predict-positive solution fails this
    assert(acc > majority + 0.1, s"accuracy $acc vs majority $majority")
    assert(tp > 0 && tn > 0, "both classes must actually be predicted")
    // the per-round trajectory is consistent with the final scorer: the
    // last round's weights are the ones score/eval applied
    val tr = TextOps.qualityTrain(spark, Sf).collect()
    assert(tr.map(_.getAs[Long]("round")).toSeq.sorted == (1L to 8L))
    val scored = TextOps.qualityScore(spark, Sf).collect()
    assert(scored.forall { r =>
      val p = r.getAs[Double]("p")
      p >= 0.0 && p <= 1.0 &&
        r.getAs[Long]("pred") == (if (p >= 0.5) 1L else 0L)
    })
  }

  test("quality calibration + threshold sweep: bins partition the corpus; kept count is monotone in the threshold") {
    import graft.text.TextOps
    val bins = TextOps.qualityCalibration(spark, Sf).collect()
    val total = TextOps.qualityEval(spark, Sf).collect()(0).getAs[Long]("n")
    assert(bins.map(_.getAs[Long]("n")).sum == total,
      "calibration bins must partition the scored corpus")
    assert(bins.forall { r =>
      val b = r.getAs[Long]("bin"); b >= 0 && b <= 9
    })
    assert(bins.forall { r =>
      r.getAs[Long]("n_pos") <= r.getAs[Long]("n") &&
        r.getAs[Double]("pos_rate") >= 0.0 && r.getAs[Double]("pos_rate") <= 1.0
    })
    val sweep = TextOps.qualityThresholdSweep(spark, Sf).collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(sweep.length == 9)
    assert(sweep.forall(_.getAs[Long]("n") == total))
    // raising the gate can only drop documents — a non-monotone kept count
    // would mean the decimal comparison straddled a boundary somewhere
    val kept = sweep.map(_.getAs[Long]("n_kept")).toSeq
    assert(kept == kept.sorted.reverse, s"n_kept must be non-increasing: $kept")
  }

  // ---- streaming retrieval index (r13 widening: IndexStream)

  test("streaming retrieval index: streamed postings answer BM25 identically to the batch scorer; replay never duplicates") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.text.TextOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp(n: String) =
      Files.createTempDirectory(Paths.get("target"), s"graft-$n").toString
    val (idx, ckpt) = (tmp("bmidx"), tmp("bmckpt"))
    val corpus = Seq(
      (1L, "spark join fast spark table"),
      (2L, "vector hash join"),
      (3L, "the table scan slow row"),
      (4L, "spark vector spark join spark"),
      (5L, "window batch stream"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.IndexStream.start(docs, idx, ckpt)
    mem.addData(corpus.take(3): _*)
    q.processAllAvailable()
    mem.addData(corpus.drop(3): _*)
    q.processAllAvailable(); q.stop()

    val query = Seq("spark", "join", "vector")
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Double]("score"))).toSeq
    val streamed = graft.streaming.IndexStream.search(spark, idx, query)
    val batchTwin = TextOps.bm25TopKOn(corpus.toDF("doc_id", "text"), query)
    assert(key(streamed.collect()).nonEmpty)
    assert(key(streamed.collect()) == key(batchTwin.collect()),
      "streamed index and batch scorer must rank identically")

    // the postings layout is (bucket, ingest_batch)-partitioned and the
    // query's term buckets reach the scan as PARTITION filters — probe
    // cost tracks matching postings, not index size
    val bucketDirs = Option(new java.io.File(s"$idx/postings").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty, "expected bucket=* partition directories")
    streamed.collect()
    val plan = streamed.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("bucket")),
      s"term buckets must prune partitions:\n${plan.take(1500)}")

    // restart on the SAME checkpoint: a replayed batch rewrites its own
    // (bucket, ingest_batch) partitions bit-identically; new docs extend
    // the index and the LIVE statistics (df, N, avgdl) shift with them
    val q2 = graft.streaming.IndexStream.start(docs, idx, ckpt)
    mem.addData((6L, "join join join spark"))
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$idx/doclen").select("doc_id")
      .as[Long].collect().sorted.toSeq == (1L to 6L),
      "every doc exactly once after the replayed restart")
    val streamed2 = graft.streaming.IndexStream.search(spark, idx, query).collect()
    val batch2 = TextOps.bm25TopKOn(
      (corpus :+ (6L, "join join join spark")).toDF("doc_id", "text"), query).collect()
    assert(key(streamed2) == key(batch2),
      "post-growth ranking must equal the batch scorer on the grown corpus")
  }
}
