package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import scala.util.Random
import graft.SparkEntry

/** batch_analytics: one client running passes over a fixed subset of
  * `SparkEntry.queries` at sf0.1. The first pass (memo and codebook
  * builds included) is set-up; the rest are warm passes. */
object Batch {
  /** Query -> the module implementing it. */
  val Queries: Seq[(String, String)] = Seq(
    // the eight headline queries
    "q1_agg" -> "operators", "q3_join_agg" -> "operators", "q5_multi_join" -> "operators",
    "dedup_minhash" -> "dedup", "ann_ivf" -> "ann", "ts_read" -> "tsdb",
    "ts_bucket_stats" -> "tsdb", "text_quality" -> "text",
    // artifact-backed (core.Memo / persisted codebooks)
    "emb_pca_1d" -> "ann", "market_basket" -> "operators", "text_bm25_batch" -> "text",
    "dedup_containment" -> "dedup", "mm_cross_ivf" -> "multimodal", "ann_recall" -> "ann",
    // artifact-free
    "graph_pagerank" -> "operators", "ts_anomaly_stl" -> "tsdb")

  /** Order-independent digest of a result: rows rendered with doubles at
    * 10 significant digits, sorted, hashed with the schema. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.10g"
      case f: Float => norm(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }
        .sorted.mkString("{", ",", "}")
      case a: Array[_] => a.map(norm).mkString("[", ",", "]")
      case x => x.toString
    }
    val body = df.schema.simpleString + "\n" + rows.map(norm).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(body.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Digests recorded from the seed tree, `query<TAB>md5` per line. */
  def recorded(path: String): Map[String, String] =
    if (path.isEmpty || !Files.isRegularFile(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().map(_.split("\t"))
      .collect { case Array(q, d) => q -> d }.toMap

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val spark = ctx.spark
    val sf = ctx.data
    val expected = recorded(sys.props.getOrElse("graftbench.digests", ""))
    graft.core.Tables.names.foreach { t =>
      try spark.read.parquet(s"$sf/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    val times = new Samples
    val digests = scala.collection.mutable.Map.empty[String, String]
    val rnd = new Random(ctx.seed)
    var pass = 0
    def runPass(): Double = {
      val order = rnd.shuffle(Queries)
      val (_, t) = ctx.timed(order.foreach { case (q, mod) =>
        val group = s"q.$pass.$q"
        spark.sparkContext.setJobGroup(group, q)
        val (rows, dt) = try ctx.timed {
          val df = SparkEntry.queries(q)(spark, sf)
          (df, df.collect())
        } finally spark.sparkContext.clearJobGroup()
        spark.catalog.clearCache()
        times.add(if (pass == 0) s"cold.$q" else q, dt)
        ctx.tracer.record(Span(ctx.tracer.nextId(), 0L, pass, s"$mod.$q", mod,
          System.nanoTime() - (dt * 1e9).toLong, System.nanoTime()))
        val d = digest(rows._1, rows._2)
        val want = expected.getOrElse(q, digests.getOrElse(q, d))
        r.check(if (d != want) Some(s"$q pass $pass: digest $d, expected $want") else None)
        digests.getOrElseUpdate(q, d)
      })
      pass += 1
      t
    }
    val cold = runPass()
    r.metric("setup_s", cold, "s", 1)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val before = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) passes += runPass()
    val elapsed = (System.nanoTime() - t0) / 1e9
    r.metric("batch_pass_s", Stats.median(passes), "s", passes.size)
    r.metric("ops_per_s", passes.size * Queries.size / elapsed, "1/s", passes.size * Queries.size)
    r.latency("op", Queries.flatMap(q => times.get(q._1)), tail = false)
    r.metric("heap_used_mb", ctx.heapAfterGc(), "MiB")
    r.info("digests") = Queries.map(q => s"${q._1}\t${digests.getOrElse(q._1, "")}").mkString("\n")
    r.info("digest_source") = if (expected.nonEmpty) "recorded" else "first pass"
    if (ctx.traced) {
      ctx.probe.settle()
      Queries.foreach { case (q, mod) =>
        r.layerMetric(s"$mod.$q.s", Stats.median(times.get(q)), "s")
        r.layerMetric(s"$mod.$q.cold_s", times.get(s"cold.$q").head, "s")
        r.layerMetric(s"$mod.$q.jobs",
          ctx.probe.sum(s"q.1.$q").jobs.get.toDouble, "count")
      }
      ctx.phaseLayers(ctx.probe.snapshot().since(before), passes.size * Queries.size)
    }
  }
}
