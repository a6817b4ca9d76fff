package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.tsdb.Graft

/** Round-18 ADVICE fixes, pinned:
  *
  *  - readSeries compiles its filter against the FULL schema but only
  *    fuses the LWW merge into the nesting aggregation when the predicate
  *    references tag columns alone — a value/time filter must apply
  *    POST-merge, or a superseded point that passes the filter while the
  *    winning overwrite fails it resurfaces as the last of its time group
  *    (ADVICE r17 medium).
  *  - an all-rejected write commits nothing — the phantom batch's novel
  *    tag column must never surface as an all-null column no live file
  *    carries (ADVICE r17 low).
  */
class Round18Spec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString

  // --------------------------------------------------------------------
  // ADVICE r17 medium: readSeries non-tag filters apply post-merge
  // --------------------------------------------------------------------

  test("readSeries applies non-tag filters POST-merge: a superseded point passing a value filter the winning overwrite fails never resurfaces (ADVICE r17 medium)") {
    val root = freshRoot("graft-r18rs")
    val g = new Graft(spark, root)
    def w(rows: (String, Double, String)*) =
      g.write(rows.toSeq.toDF("time", "value", "name"))
    w(("2024-01-01T00:00:01Z", 10.0, "a"), ("2024-01-01T00:00:02Z", 7.0, "a"))
    // overwrite t1: the WINNER (3.0) fails the gte:5 filter while the
    // superseded 10.0 passes it — a pre-merge filter would return the
    // stale 10.0 as the last of its time group
    w(("2024-01-01T00:00:01Z", 3.0, "a"))
    val filt = """{"range":{"value":{"gte":5}}}"""
    val pts = g.readSeries(filt).collect().toSeq.flatMap { r =>
      r.getSeq[Row](r.fieldIndex("points"))
        .map(p => (r.getAs[String]("name"), p.getLong(0), p.getDouble(1)))
    }.toSet
    assert(pts == Set(("a", 1704067202000L, 7.0)),
      s"stale overwritten point resurfaced: $pts")
    // one rule, two shapes: the flat read()'s post-merge rows agree
    val flat = g.read(filt).collect().map(r => (r.getAs[String]("name"),
      r.getAs[Long]("time_ms"), r.getAs[Double]("value"))).toSet
    assert(flat == pts, s"readSeries and read diverged:\n  $pts\n  $flat")
    // the value filter pays the merge window; a tags-only filter keeps
    // the r17 fused single-aggregation shape (no merge window in plan)
    val fused = g.readSeries("""{"term":{"name":"a"}}""")
      .queryExecution.executedPlan.toString
    assert(!fused.contains("WindowGroupLimit"),
      s"tags-only readSeries must stay fused:\n${fused.take(1200)}")
    val merged = g.readSeries(filt).queryExecution.executedPlan.toString
    assert(merged.contains("WindowGroupLimit") || merged.contains("Window"),
      s"non-tag filter must merge first:\n${merged.take(1200)}")
    // unknown fields resolve to null under BOTH compiles and stay fused
    assert(g.readSeries("""{"term":{"nosuchtag":"x"}}""").collect().isEmpty)
  }

  // --------------------------------------------------------------------
  // ADVICE r17 low: all-rejected writes prime nothing
  // --------------------------------------------------------------------

  test("an all-rejected write lands no files and primes nothing: the phantom batch's novel tag column never surfaces in reads (ADVICE r17 low)") {
    val root = freshRoot("graft-r18pp")
    val g = new Graft(spark, root)
    g.write(Seq(("2024-01-01T00:00:01Z", 1.0, "a"))
      .toDF("time", "value", "name"))
    assert(g.read("""{"match_all":{}}""").columns.toSet ==
      Set("name", "time_ms", "value"))
    // the batch is rejected WHOLESALE (bad timestamp) and carries a novel
    // tag column 'dc': committing its schema would expose an all-null dc
    // no live file carries
    val rejected = g.write(Seq(("not-a-time", 2.0, "b", "web"))
      .toDF("time", "value", "name", "dc"))
    assert(rejected.count() == 1, "the bad point must get a per-point error")
    val df = g.read("""{"match_all":{}}""")
    assert(df.columns.toSet == Set("name", "time_ms", "value"),
      s"phantom batch schema leaked into reads: ${df.columns.toSeq}")
    assert(df.count() == 1)
    // and a later real write with the same column still surfaces it
    g.write(Seq(("2024-01-01T00:00:02Z", 2.0, "b", "web"))
      .toDF("time", "value", "name", "dc"))
    assert(g.read("""{"match_all":{}}""").columns.toSet ==
      Set("name", "dc", "time_ms", "value"))
  }

  // --------------------------------------------------------------------
  // VERDICT r17 #4: the unpartitioned-window whitelist, enforced
  // --------------------------------------------------------------------

  /** Queries whose plans legitimately contain an UNPARTITIONED window,
    * each with the structural bound on the window's input row count
    * (asserted below at sf0.001). Every member's global window runs over
    * an already-aggregated or top-k-bounded table, never the raw corpus —
    * this enforces r5's prose adjudication of the bench log's
    * `WindowExec: No Partition Defined` warnings. A new global window
    * over an unbounded input fails the set-equality assert and must
    * either be re-partitioned or justified here with its own bound.
    *
    *  - ts_top_series: rank assignment over `orderBy.limit(k)` output —
    *    ≤ k = 10 rows by construction (Tsdb.topSeries).
    *  - ts_burn_rate: the long-window burn sum over the PER-BUCKET error
    *    aggregate — one row per stepMs bucket of the REQUESTED range
    *    (hours, not points); bound = a year of hourly buckets.
    *  - ts_rolling_corr: the rolling Pearson sums over the two-series
    *    per-bucket join — same one-row-per-bucket shape and bound. */
  private val globalWindowWhitelist: Map[String, Long] = Map(
    "ts_top_series" -> 10L,
    "ts_burn_rate" -> 8784L,
    "ts_rolling_corr" -> 8784L)

  test("unpartitioned-window audit: global windows appear ONLY in whitelisted queries, each over a proven-bounded input (VERDICT r17 #4)") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow, WindowGroupLimit => LWgl}
    val offenders =
      scala.collection.mutable.SortedMap.empty[String, Seq[LogicalPlan]]
    for (n <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(n)(spark, Sf)
      val globals = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.child
        case w: LWgl if w.partitionSpec.isEmpty => w.child
      }
      if (globals.nonEmpty) offenders(n) = globals
    }
    assert(offenders.keySet == globalWindowWhitelist.keySet,
      s"global-window set drifted.\n  found:       ${offenders.keySet.mkString(", ")}\n" +
        s"  whitelisted: ${globalWindowWhitelist.keySet.toSeq.sorted.mkString(", ")}")
    for ((n, children) <- offenders; c <- children) {
      val rows = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, c).count()
      assert(rows <= globalWindowWhitelist(n),
        s"$n: global window over $rows rows exceeds its declared bound " +
          s"${globalWindowWhitelist(n)} — the input is no longer the " +
          "bounded table the whitelist adjudicated")
    }
  }
}
