package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.CdcIndexSync
import graft.tsdb.Graft

/** The CDC consumer (r14): incremental series-index maintenance driven by
  * [[Graft.changes]] — the loop the store-level change feed exists for.
  * The contract under test: after every sync the index answers ranked
  * series search rank- AND score-identically to the direct store scan
  * ([[Graft.search]]), while paying only for what changed.
  */
class CdcIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag).toString

  /** Direct-scan top-k as (doc_id-shaped tag join, score) in rank order —
    * expected keys use the shared INJECTIVE encoding (DocId, r15). */
  private def direct(g: Graft, terms: Seq[String], k: Int = 20): Seq[(String, Double)] =
    g.search(terms, k = k).collect().toSeq.map { r =>
      val tags = r.schema.fieldNames.filterNot(_ == "score")
        .map(c => Option(r.getAs[Any](c)).map(_.toString)).toSeq
      (graft.tsdb.DocId.encodeRaw(tags), r.getAs[Double]("score"))
    }

  private def indexed(dir: String, terms: Seq[String], k: Int = 20): Seq[(String, Double)] =
    CdcIndexSync.search(spark, dir, terms, k).collect().toSeq
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("score")))

  private def assertParity(g: Graft, dir: String, queries: Seq[Seq[String]]): Unit =
    queries.foreach { q =>
      val (d, i) = (direct(g, q), indexed(dir, q))
      assert(d == i, s"index diverges from direct scan for $q: direct=$d indexed=$i")
    }

  private val Queries = Seq(
    Seq("cpu", "web-01"), Seq("frontend"), Seq("cache"), Seq("database", "mem"))

  test("CDC consumer: sync keeps the series index rank-identical to the direct scan; a removal kills only emptied series; resurrection is a ledger flip, not a rewrite (r14)") {
    val root = freshDir("graft-cdcidx")
    val dir = s"$root/index"
    val g = new Graft(spark, root + "/store")
    def w(rows: (String, Double, String, String, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name", "host", "role"))

    w(("2024-01-09T10:00:00Z", 1.0, "cpu", "web-01", "frontend checkout"),
      ("2024-01-09T11:00:00Z", 2.0, "cpu", "db-01", "database primary"),
      ("2024-01-09T12:00:00Z", 3.0, "mem", "web-01", "frontend checkout"))
    val b0 = CdcIndexSync.build(g, dir)
    assert(CdcIndexSync.committedSnap(spark, dir).contains(b0))
    assertParity(g, dir, Queries)

    // incremental: a NEW series and more points on an EXISTING one, in a
    // different bucket day — sync must index the new doc, bump the ledger
    // for the old one, and stay score-identical (corpus stats shift: n_docs
    // and df change, so every score moves — the index must track that too)
    w(("2024-01-19T10:00:00Z", 4.0, "mem", "cache-01", "edge cache"),
      ("2024-01-19T11:00:00Z", 5.0, "cpu", "web-01", "frontend checkout"))
    val s1 = CdcIndexSync.sync(g, dir)
    assert(s1 == g.snapshots().max && s1 > b0)
    assertParity(g, dir, Queries)

    // a synced index equals one REBUILT from scratch at the same snapshot
    val dir2 = s"$root/index2"
    CdcIndexSync.build(g, dir2)
    Queries.foreach { q =>
      assert(indexed(dir, q) == indexed(dir2, q),
        s"synced index must equal a fresh rebuild for $q")
    }

    // already-current sync is a no-op returning the same snapshot
    assert(CdcIndexSync.sync(g, dir) == s1)

    // retention drops the 2024-01-09 bucket: (cpu, db-01) and (mem, web-01)
    // lose their ONLY point and must stop matching; (cpu, web-01) keeps its
    // 01-19 point and must survive — point-level removal is not doc death
    g.remove(keepDays = 5, todayDay = 1705658400000L / graft.core.Det.MsInDay)
    CdcIndexSync.sync(g, dir)
    val after = indexed(dir, Seq("cpu", "web-01", "database"))
    assert(!after.exists(_._1.contains("db-01")),
      s"fully-removed series must stop matching: $after")
    assert(after.exists(_._1.contains("web-01")),
      s"a series that kept points elsewhere must survive: $after")
    assertParity(g, dir, Queries)

    // resurrection: the dead (cpu, db-01) series gets a new point — it must
    // match again WITHOUT rewriting its postings (ledger flip only: its
    // postings still live solely in the batch that first indexed it)
    w(("2024-01-19T12:00:00Z", 6.0, "cpu", "db-01", "database primary"))
    CdcIndexSync.sync(g, dir)
    assertParity(g, dir, Queries)
    val dbDoc = graft.tsdb.DocId.encodeRaw(
      Seq("db-01", "cpu", "database primary").map(Some(_)))
    val batches = spark.read.parquet(s"$dir/postings")
      .where(col("doc_id") === dbDoc)
      .select("ingest_batch").distinct().as[Long].collect().toSet
    assert(batches == Set(b0),
      s"resurrection must not rewrite postings (batches=$batches, build=$b0)")

    // misuse is loud: an unbuilt index can't sync or search
    val cold = s"$root/never-built"
    intercept[IllegalStateException] { CdcIndexSync.sync(g, cold) }
    intercept[IllegalStateException] { CdcIndexSync.search(spark, cold, Seq("x")) }
  }

  test("CDC consumer: a pure compaction syncs as a data-free no-op; crash replay re-lands the batch bit-identically (r14)") {
    val root = freshDir("graft-cdcidx2")
    val dir = s"$root/index"
    val g = new Graft(spark, root + "/store")
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))

    w(("2024-01-09T10:00:00Z", 1.0, "alpha"), ("2024-01-09T11:00:00Z", 2.0, "beta"))
    val b0 = CdcIndexSync.build(g, dir)
    val b0Marker = new java.io.File(s"$dir/_sync").listFiles()
      .map(_.getName).find(_.startsWith(s"snap_$b0")).get
    w(("2024-01-09T12:00:00Z", 3.0, "gamma"), ("2024-01-09T13:00:00Z", 4.0, "alpha"))
    val s1 = CdcIndexSync.sync(g, dir)

    def batchRows(sub: String, batch: Long): Set[String] =
      spark.read.parquet(s"$dir/$sub").where(col("ingest_batch") === batch)
        .collect().map(_.toString).toSet
    val expect = Seq("counts", "doclen", "postings").map(d => d -> batchRows(d, s1)).toMap
    assert(expect("counts").nonEmpty)

    // crash-before-marker: the data partitions for batch s1 exist but the
    // marker doesn't — readers must not see them, and the replayed sync
    // must delete and re-land them bit-identically (the replay discipline)
    // markers carry a per-commit nonce since r15 (snap_<seq>-<nonce>)
    val marker = new java.io.File(s"$dir/_sync").listFiles()
      .find(f => f.getName == s"snap_$s1" ||
        f.getName.startsWith(s"snap_$s1-"))
      .getOrElse(fail(s"test harness: no marker for $s1"))
    assert(marker.delete(), "test harness: marker must exist to drop")
    // a REAL crash-before-marker still has the previous marker (the
    // commit-time prune only runs after the new marker lands — r15);
    // restore it so the simulated state matches a reachable one
    new java.io.File(s"$dir/_sync/$b0Marker").createNewFile()
    assert(CdcIndexSync.committedSnap(spark, dir).contains(b0))
    val mid = indexed(dir, Seq("gamma", "alpha"))
    assert(!mid.exists(_._1 == "gamma"),
      s"an uncommitted batch must be invisible to search: $mid")
    val s1b = CdcIndexSync.sync(g, dir)
    assert(s1b == s1)
    Seq("counts", "doclen", "postings").foreach { d =>
      assert(batchRows(d, s1) == expect(d), s"replayed $d diverged")
    }
    assertParity(g, dir, Seq(Seq("alpha"), Seq("gamma", "beta")))

    // a pure physical rewrite advances the marker and writes NOTHING:
    // the segment fast path sees identical logical content
    assert(g.compact().nonEmpty)
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      Seq("counts", "doclen", "postings")
        .flatMap(d => walk(new java.io.File(s"$dir/$d")))
        .map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = dataFiles()
    val s2 = CdcIndexSync.sync(g, dir)
    assert(s2 == g.snapshots().max && s2 > s1)
    assert(dataFiles() == before,
      "a compaction-only diff must land zero data files")
    assert(CdcIndexSync.committedSnap(spark, dir).contains(s2))
    assertParity(g, dir, Seq(Seq("alpha"), Seq("beta"), Seq("gamma")))
  }

  test("CDC consumer: a tag-schema evolution (new tag column) falls back to a full rebuild — doc identity shifted for every series (r14)") {
    val root = freshDir("graft-cdcidx3")
    val dir = s"$root/index"
    val g = new Graft(spark, root + "/store")
    g.write(Seq(("2024-01-09T10:00:00Z", 1.0, "cpu"))
      .toDF("time", "value", "name"))
    CdcIndexSync.build(g, dir)
    // the store's tag schema grows a column: every doc_id/text changes
    // shape (old series gain an empty slot), so incremental maintenance is
    // unsound and sync must rebuild instead
    g.write(Seq(("2024-01-19T10:00:00Z", 2.0, "mem", "web-01"))
      .toDF("time", "value", "name", "host"))
    val s1 = CdcIndexSync.sync(g, dir)
    assert(s1 == g.snapshots().max)
    assertParity(g, dir, Seq(Seq("cpu"), Seq("mem", "web-01")))
    // the rebuilt index carries the evolved doc identity: the old series'
    // doc_id now has the NULL host slot the direct scan gives it (r15:
    // DocId encodes null distinctly from an empty-string tag)
    val hit = indexed(dir, Seq("cpu")).map(_._1)
    assert(hit == Seq(graft.tsdb.DocId.encodeRaw(Seq(None, Some("cpu")))),
      s"evolved doc_id: $hit")
  }
}
