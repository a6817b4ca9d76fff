package graft

import java.nio.file.{Files, Paths}
import graft.streaming.CdcIndexSync
import graft.tsdb.{DocId, Graft}

/** A fold drops postings and doclen for docs dead at its base. A sync
  * that races the fold and resurrects such a doc must still leave it
  * indexed in the folded generation: every doc with a positive ledger sum
  * in a generation has postings and doclen there. The two never overlap
  * (both hold the index's maintenance lease), and both orders — a sync
  * started inside the fold's commit window (it waits, then indexes the
  * doc anew in the folded generation) and a fold started inside the
  * sync's (it waits, then folds the live doc in) — must serve what the
  * scan and a rebuilt index serve. */
class FoldResurrectSpec extends SparkTestBase {
  import spark.implicits._

  /** 2024-01-19, the day retention runs: `beta`'s first bucket is past
    * a 2-day keep, `alpha`'s and `gamma`'s are not. */
  private val Today = 1705658400000L / graft.core.Det.MsInDay

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  private def direct(g: Graft, terms: Seq[String]): Seq[(String, Double)] =
    g.search(terms).collect().toSeq.map { r =>
      val tags = r.schema.fieldNames.filterNot(_ == "score")
        .map(c => Option(r.getAs[Any](c)).map(_.toString)).toSeq
      (DocId.encodeRaw(tags), r.getAs[Double]("score"))
    }

  private def indexed(dir: String, terms: Seq[String]): Seq[(String, Double)] =
    CdcIndexSync.search(spark, dir, terms).collect().toSeq
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("score")))

  /** A store with `alpha`, `gamma` and an expired `beta`, indexed; then
    * retention drops `beta` and a sync records it dead, leaving two
    * ledger batches, so the index is foldable. */
  private def deadBeta(tag: String): (Graft, String, String) = {
    val root = freshRoot(tag)
    val g = new Graft(spark, s"$root/store")
    g.write(Seq(("2024-01-18T10:00:00Z", 1.0, "alpha"),
      ("2024-01-09T10:00:00Z", 2.0, "beta"),
      ("2024-01-18T11:00:00Z", 3.0, "gamma")).toDF("time", "value", "name"))
    val dir = s"$root/index"
    CdcIndexSync.build(g, dir)
    assert(g.remove(keepDays = 2, todayDay = Today).nonEmpty)
    CdcIndexSync.sync(g, dir)
    assert(indexed(dir, Seq("beta")).isEmpty, "precondition: beta is dead")
    (g, dir, root)
  }

  private def rewriteBeta(g: Graft): Unit =
    g.write(Seq(("2024-01-18T12:00:00Z", 4.0, "beta"))
      .toDF("time", "value", "name"))

  /** After the fold: `beta` is found and `alpha` scores over three live
    * docs, from the index cold and through the serving view, equal to
    * the scan and to an index rebuilt at the same snapshot. */
  private def assertServed(g: Graft, dir: String, root: String): Unit = {
    assert(CdcIndexSync.state(spark, dir).get.gen == 1L,
      "precondition: the fold committed")
    val rebuilt = s"$root/rebuilt"
    CdcIndexSync.build(g, rebuilt)
    val queries = Seq(Seq("beta"), Seq("alpha"), Seq("gamma", "beta"))
    def check(path: String): Unit = queries.foreach { q =>
      val (d, i, r) = (direct(g, q), indexed(dir, q), indexed(rebuilt, q))
      assert(d.nonEmpty, s"$q: the scan finds nothing")
      assert(i == d, s"$path index diverges from the scan for $q: index=$i scan=$d")
      assert(r == d, s"rebuilt index diverges from the scan for $q: rebuilt=$r scan=$d")
    }
    check("cold")
    CdcIndexSync.refreshServeCache(spark, dir)
    check("served")
  }

  test("a sync inside the fold's commit window that resurrects a doc the fold dropped leaves it indexed in the folded generation: /search beta and alpha's score equal the scan and a rebuild") {
    val (g, dir, root) = deadBeta("graft-resurrect-fold")
    val before = CdcIndexSync.committedSnap(spark, dir)
    var sync: Competitor = null
    CdcIndexSync.foldCommitHook = () => {
      CdcIndexSync.foldCommitHook = () => () // once
      rewriteBeta(g)
      sync = Competitor(CdcIndexSync.sync(g, dir))
      Thread.sleep(300)
      assert(CdcIndexSync.committedSnap(spark, dir) == before && sync.running,
        "the sync must wait while the fold holds the lease")
    }
    try assert(CdcIndexSync.compactIndex(spark, dir) == 1L)
    finally CdcIndexSync.foldCommitHook = () => ()
    sync.join()
    assertServed(g, dir, root)
  }

  test("a fold inside a resurrecting sync's commit window: the sync's re-land indexes the doc the fold dropped, so /search beta and alpha's score equal the scan and a rebuild") {
    val (g, dir, root) = deadBeta("graft-resurrect-sync")
    rewriteBeta(g)
    val before = CdcIndexSync.committedSnap(spark, dir)
    var fold: Competitor = null
    CdcIndexSync.syncCommitHook = () => {
      CdcIndexSync.syncCommitHook = () => () // once
      fold = Competitor(assert(CdcIndexSync.compactIndex(spark, dir) == 1L))
      Thread.sleep(300)
      assert(CdcIndexSync.committedSnap(spark, dir) == before &&
        CdcIndexSync.state(spark, dir).get.gen == 0L && fold.running,
        "the fold must wait while the sync holds the lease")
    }
    try CdcIndexSync.sync(g, dir)
    finally CdcIndexSync.syncCommitHook = () => ()
    fold.join()
    assertServed(g, dir, root)
  }
}
