package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.tsdb.Graft
import graft.tsdb.Graft.FileStats

/** The manifest's per-file stats — `[min, max]` `time_ms` zone maps and
  * capped tag dictionaries — are gathered by the write tasks as they write
  * each file (appends and compaction), or by one no-shuffle scan of the
  * files as they are (adoption of a pre-manifest store). Every commit path
  * must record exactly what a brute-force read of each file alone gives,
  * and a steady-state queued flush is one Spark job, the write; the first
  * flush into a new space adds JSON schema inference.
  */
class ManifestStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-stats").toString

  private val Jan1 = 1704067200000L // 2024-01-01T00:00Z
  private val Week = 7L * 86400000L

  /** 4 weekly buckets × 120 points. `dc` is set only in bucket 0 (all null
    * elsewhere); `host` has 120 values in bucket 1 (over the cap in every
    * file the writers below leave) and 3 elsewhere; `sym` mixes a
    * fullwidth and a supplementary character in bucket 2 (UTF-8 and UTF-16
    * order them differently); `rack` is a numeric tag. The `dc` and `sym`
    * periods are coprime to the writers' partition counts, so every file
    * of a bucket sees each of their values. */
  private def points(): DataFrame =
    (for (w <- 0 until 4; i <- 0 until 120) yield (
      java.time.Instant.ofEpochMilli(Jan1 + w * Week + i * 60000L).toString,
      i.toDouble,
      if (i % 2 == 0) "cpu" else "mem",
      if (w == 0) Some(if (i % 4 == 0) "east" else "west") else None,
      if (w == 1) s"h$i" else s"h${i % 3}",
      if (w == 2) Seq("！", "😀", "a", "a", "a")(i % 5) else "a",
      i % 4)).toDF("time", "value", "name", "dc", "host", "sym", "rack")

  /** The newest snapshot's entries, parsed from its segment files:
    * relative path -> (zone map, dictionary; empty when none recorded). */
  private def recorded(root: String, space: String = "default")
      : Map[String, (Option[(Long, Long)], Map[String, Seq[String]])] = {
    val mdir = new java.io.File(s"$root/.manifest/$space")
    val newest = mdir.listFiles().filter(f =>
        f.getName.startsWith("m") && f.getName.tail.forall(_.isDigit))
      .maxBy(_.getName.stripPrefix("m").toLong)
    def lines(f: java.io.File) = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toList finally src.close()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines(newest).filter(_.startsWith("#seg\t"))
      .flatMap(l => lines(new java.io.File(mdir, l.split('\t')(2))))
      .map { l =>
        val parts = l.split('\t')
        val zone = if (parts.length >= 4) Some((parts(2).toLong, parts(3).toLong)) else None
        val dict = if (parts.length < 5) Map.empty[String, Seq[String]] else {
          val node = mapper.readTree(java.util.Base64.getDecoder.decode(parts(4)))
          val it = node.fields()
          val b = Map.newBuilder[String, Seq[String]]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> (0 until e.getValue.size()).map(e.getValue.get(_).asText())
          }
          b.result()
        }
        parts(0) -> ((zone, dict))
      }.toMap
  }

  /** Brute force: read `rel` alone and compute its zone map and, per
    * string column, its sorted distinct non-null values (None when over
    * the cap). */
  private def bruteForce(root: String, rel: String, space: String = "default")
      : (Option[(Long, Long)], Map[String, Option[Seq[String]]]) = {
    val df = spark.read.parquet(s"$root/$space/$rel")
    val strCols = df.schema.fields
      .filter(f => f.dataType == StringType && f.name != "__wseq").map(_.name).toSeq
    val r = df.agg(min("time_ms"), strCols.map(c => sort_array(collect_set(col(c)))) :+
      max("time_ms"): _*).head()
    val zone = if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(strCols.size + 1)))
    zone -> strCols.zipWithIndex.map { case (c, i) =>
      val vs = r.getSeq[String](i + 1)
      c -> (if (vs.size <= Graft.DictMax) Some(vs) else None)
    }.toMap
  }

  /** Every recorded file's stats equal the brute-force computation; a
    * column the file lacks may only record the empty dictionary. */
  private def assertParity(root: String,
                           rec: Map[String, (Option[(Long, Long)], Map[String, Seq[String]])]): Unit = {
    assert(rec.nonEmpty)
    rec.foreach { case (rel, (zone, dict)) =>
      val (bz, bd) = bruteForce(root, rel)
      assert(zone == bz, s"zone map of $rel")
      bd.foreach {
        case (c, Some(vs)) => assert(dict.get(c).contains(vs), s"dictionary $c of $rel")
        case (c, None) => assert(!dict.contains(c), s"over-cap $c of $rel records nothing")
      }
      (dict.keySet -- bd.keySet).foreach(c =>
        assert(dict(c).isEmpty, s"$rel lacks $c, so only the empty dictionary holds"))
    }
  }

  private def bucketOf(rel: String): Long =
    rel.takeWhile(_ != '/').stripPrefix("bucket_day=").toLong

  /** FileSourceScan `numFiles`, descending through AQE. */
  private def scannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  /** The shape every path must record for [[points]], plus the r14 rule
    * that an all-null tag's empty dictionary prunes a `term` read. */
  private def assertShape(g: Graft, root: String): Unit = {
    val rec = recorded(root)
    val days = rec.keys.map(bucketOf).toSeq.distinct.sorted
    assert(days.size == 4)
    rec.foreach { case (rel, (_, dict)) =>
      val w = days.indexOf(bucketOf(rel))
      assert(!dict.contains("rack"), "a numeric tag records no dictionary")
      if (w == 0) assert(dict("dc").forall(Set("east", "west")))
      else assert(dict.get("dc").contains(Nil), s"all-null dc in $rel: the empty dictionary")
      assert(dict.contains("host") == (w != 1), s"host over the cap only in bucket 1 ($rel)")
    }
    // a file holding both orders them by UTF-8 bytes, U+FF01 before U+1F600
    // (UTF-16 order would put the surrogate pair first)
    assert(rec.values.exists(_._2.get("sym").exists(_.filter(_ != "a") == Seq("！", "😀"))))
    val withEast = rec.count(_._2._2.get("dc").exists(_.contains("east")))
    val bucket0 = rec.count { case (rel, _) => bucketOf(rel) == days.head }
    assert(withEast >= 1 && withEast <= bucket0 && bucket0 < rec.size)
    val east = g.read("""{"term":{"dc":"east"}}""")
    assert(east.collect().length == 30)
    assert(scannedFiles(east) == withEast,
      s"the all-null dc files must be skipped: ${rec.size} files, $withEast hold east")
  }

  test("stats parity: appended, compacted and adopted files record what each file read alone gives") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    g.write(points().repartition(3))
    assert(recorded(root).size > 4, "the append should leave several files per bucket")
    assertParity(root, recorded(root))
    assertShape(g, root)

    assert(g.compact().size == 4)
    assertParity(root, recorded(root))
    assertShape(g, root)

    val legacy = freshRoot()
    writeLegacyStore(legacy, points().repartition(2))
    val adopted = new Graft(spark, legacy)
    assert(adopted.read("""{"match_all":{}}""").count() == 480) // adopts the store
    assertParity(legacy, recorded(legacy))
    assertShape(adopted, legacy)
  }

  test("mergeStats: a file split across two tasks combines min/max, unions and re-caps its sets") {
    def vals(r: Range) = r.map(i => s"v$i").toSet
    val first = FileStats(10L, 20L, Map("host" -> Some(Set("h1", "h2")),
      "dc" -> Some(Set.empty[String]), "big" -> Some(vals(0 until 20)),
      "edge" -> Some(vals(0 until 16)), "over" -> None))
    val second = FileStats(5L, 15L, Map("host" -> Some(Set("h2", "h3")),
      "dc" -> Some(Set.empty[String]), "big" -> Some(vals(10 until 40)),
      "edge" -> Some(vals(16 until 32)), "over" -> Some(Set("x"))))
    val other = FileStats(100L, 100L, Map("host" -> Some(Set("h9"))))
    val m = Graft.mergeStats(Seq("f1" -> first, "f2" -> other, "f1" -> second))
    assert(m("f2") == other)
    assert(m("f1") == FileStats(5L, 20L, Map(
      "host" -> Some(Set("h1", "h2", "h3")),
      "dc" -> Some(Set.empty[String]),
      "big" -> None, // 40 values in the union: over the cap
      "edge" -> Some(vals(0 until 32)), // exactly the cap: still a dictionary
      "over" -> None))) // one over-cap partial: no dictionary
    assert(m("f1").dicts == Map("host" -> Seq("h1", "h2", "h3"),
      "dc" -> Nil, "edge" -> vals(0 until 32).toSeq.sorted))
  }

  test("foldStats: one task's rows fold per file, dropping a set that passes the cap") {
    val rows = (0 until 40).map(i => Row("f1", 100L + i, s"h$i", null)) ++
      Seq(Row("f2", 7L, "a", "x"), Row("f2", null, "b", null), Row("f2", 3L, "a", null))
    val out = Graft.foldStats(rows.iterator, Seq("host", "dc")).toMap
    assert(out("f1") == FileStats(100L, 139L,
      Map("host" -> None, "dc" -> Some(Set.empty[String]))))
    assert(out("f2") == FileStats(3L, 7L,
      Map("host" -> Some(Set("a", "b")), "dc" -> Some(Set("x")))))
  }

  /** Queue 20 x 500-point batches over 26 weekly buckets, numbered from
    * `from`: integer values and two string tags. */
  private def queueBulk(g: Graft, from: Int): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (from until from + 20).foreach { b =>
      val batch = (0 until 500).map { i =>
        val n = b * 500 + i
        mapper.readTree(s"""{"time": ${Jan1 + (n % 26) * Week + n}, """ +
          s""""value": $n, "name": "s${n % 50}", "host": "h${n % 7}"}""")
      }
      assert(g.writeQueued(batch).isEmpty)
    }
  }

  /** The Spark jobs one `flushQueued` runs. */
  private def flushJobs(g: Graft): Int = {
    val group = s"flush-${Graft.nonce()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "one queued flush")
      try g.flushQueued()
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("a queued flush of 20 x 500-point batches over 26 buckets runs 1 Spark job") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    queueBulk(g, 0)
    g.flushQueued() // the space's first flush: its fields are new
    queueBulk(g, 20)
    assert(flushJobs(g) == 1,
      "the write alone — no schema inference, stats scan, listing or footer job")
    assertParity(root, recorded(root))
    assert(recorded(root).keys.map(bucketOf).size == 26)
    assert(g.read("""{"match_all":{}}""").count() == 20000)
  }

  test("the first queued flush into a new space runs 2 Spark jobs") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    queueBulk(g, 0)
    assert(flushJobs(g) == 2, "JSON schema inference and the write")
    assert(recorded(root).keys.map(bucketOf).size == 26)
    assert(g.read("""{"match_all":{}}""").count() == 10000)
  }
}
