package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan-SHAPE guards: the executed-plan properties PLANS.md documents,
  * enforced — a regression that un-pushes a filter, drops a broadcast, or
  * kicks a kernel out of the scan stage fails here long before a bench run
  * notices the slowdown. Each assertion names the property a 100 TB run
  * depends on, not an incidental plan string.
  */
class PlanGuardSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  private def planOf(df: DataFrame): String = {
    df.count() // let AQE finalize what it will
    df.queryExecution.executedPlan.toString
  }

  test("TSDB read pushes time range and tag filter into the parquet scan") {
    val plan = planOf(graft.tsdb.Tsdb.read(graft.tsdb.Tsdb.points(spark, Sf),
      graft.tsdb.EsFilter.compile("""{"term":{"user_id":42}}"""),
      1704672000000L, 1705881600000L))
    assert(plan.contains("PushedFilters:"), plan.take(800))
    // the tag equality reaches the scan (row-group pruning), and the scan
    // reads only the needed columns
    assert(plan.contains("EqualTo(user_id,42)"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no cartesian on a read")
  }

  test("star join broadcasts every dimension (q5)") {
    val plan = planOf(graft.operators.Analytics.q5MultiJoin(spark, Sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size +
      "BroadcastExchange".r.findAllIn(plan).size
    assert(broadcasts >= 4, s"expected broadcast dims, got $broadcasts:\n${plan.take(1200)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no cartesian in the star join")
  }

  test("sloppy/interval filters run the codegen'd kernel inside the scan stage") {
    val docs = graft.core.Tables.documents(spark, Sf)
    val plan = planOf(docs.where(graft.tsdb.EsFilter.compile(
      """{"intervals":{"text":{"match":{"query":"data merge","max_gaps":2}}}}""",
      docs.columns.toSeq)))
    assert(plan.contains("graft_sloppy"), plan.take(1200))
    // the kernel is a row-local predicate: one scan node, no join, no
    // exchange before the filter
    assert(!plan.contains("Exchange") || plan.indexOf("graft_sloppy") <
      plan.indexOf("Exchange"), "kernel must evaluate before any exchange")
  }

  test("exhaustive cosine scans score through the codegen'd graft_dot") {
    val plan = planOf(graft.ann.Ann.bruteForceTopK(spark, Sf, k = 3, nQueries = 3))
    assert(plan.contains("graft_dot"), plan.take(1200))
    assert(plan.contains("BroadcastExchange"), "query set must broadcast")
  }

  test("pigeonhole hamming search joins on the packed long bucket key, not a cartesian") {
    val plan = planOf(graft.dedup.Dedup.simhashBucketedPairs(spark, Sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bucketed pairs must never fall back to the corpus square")
  }

  test("cross-modal IVF probe broadcasts the codebook and the query set") {
    val plan = planOf(graft.multimodal.Multimodal.crossIvfTopK(spark, Sf,
      k = 3, nQueries = 5))
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"codebook + query set should broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("top-k per group uses WindowGroupLimit, not a full-sort-then-filter") {
    val plan = planOf(graft.operators.Analytics.windowTopN(spark, Sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  test("compacted store reads carry no merge window") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory(Paths.get("target"), "graft-planguard").toString
    val g = new graft.tsdb.Graft(spark, root)
    import spark.implicits._
    g.write(spark.read.json(Seq(
      """{"time":1704794400000,"value":1.0,"name":"cpu"}""",
      """{"time":1704794400001,"value":2.0,"name":"cpu"}""").toDS()))
    val before = planOf(g.read("""{"match_all":{}}""", startMs = 0,
      endMs = Long.MaxValue))
    assert(before.contains("WindowGroupLimit") || before.contains("Window"),
      "stamped store must merge on read")
    g.compact()
    val after = planOf(g.read("""{"match_all":{}}""", startMs = 0,
      endMs = Long.MaxValue))
    assert(!after.contains("WindowGroupLimit") && !after.contains("Window "),
      s"compacted store must read window-free:\n${after.take(1200)}")
  }

  test("PPS sampler shuffles once on the group key and broadcasts the dim") {
    val plan = planOf(graft.operators.Analytics.samplePps(spark, Sf))
    // the cumulative-weight window rides ONE hash shuffle on the group key
    assert(plan.contains("hashpartitioning(segment"), plan.take(1500))
    // customer is a broadcast dim; the weighted draw never sorts globally
    // before the window (the only range partitioning is Det.ordered's
    // final output ordering, downstream of the Window operators)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    // plan text reads top-down: any rangepartitioning must sit ABOVE the
    // group-key shuffle (i.e. be Det.ordered's output sort), never below
    // it feeding the window
    val hp = plan.indexOf("hashpartitioning(segment")
    val rp = plan.indexOf("rangepartitioning")
    assert(hp >= 0 && (rp == -1 || rp < hp),
      s"group-key hash shuffle must feed the window, not a global sort:\n${plan.take(1500)}")
  }

  test("residual IVFPQ broadcasts the LUT and coarse-term tables, no cartesian over codes") {
    val plan = planOf(graft.ann.Ann.ivfPqResidualTopK(spark, Sf, k = 3, nQueries = 5))
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"residual LUT + dot(q,c) table should broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "code rows must join broadcast query tables, never a cartesian")
  }

  test("pinned-prefix fuzzy pushes StringStartsWith into the parquet scan (r12)") {
    // prefix_length is a PLAN optimization, not just semantics: the pinned
    // prefix must reach the scan as a pushed filter (row-group min/max
    // skipping — Lucene's term-dictionary prefix walk, columnar form), with
    // the O(len²) edit-distance kernel only on survivors
    val plan = planOf(graft.tsdb.Tsdb.read(graft.tsdb.Tsdb.points(spark, Sf),
      graft.tsdb.EsFilter.compile(
        """{"fuzzy":{"event_type":{"value":"clickk","fuzziness":"AUTO",
             "prefix_length":3}}}"""),
      1704672000000L, 1705881600000L))
    assert(plan.contains("StringStartsWith(event_type,cli)"), plan.take(1500))
    assert(plan.contains("graft_osa"), "remainder distance stays in the scan stage")
  }

  test("IVF rebalance reads stored assignments — no per-call corpus re-assignment (r12/r19)") {
    val plan = planOf(graft.ann.Ann.ivfRebalance(spark, Sf))
    // r19: both assignment passes are persisted index artifacts (the
    // inverted file and its re-homed generation — what applyRebalance
    // writes), so the per-call plan is occupancy aggregation over a stored
    // scan: no rank-1 window re-derivation, no centroid join at all. The
    // r12 property (centroids broadcast, corpus never shuffled against
    // corpus-sized data) now holds trivially AND at build time — the build
    // replays the same broadcast-assignment pipeline the r12 guard pinned.
    assert(plan.contains("Scan ExistingRDD"),
      s"reassigned cells must come from the stored artifact:\n${plan.take(1500)}")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("SortMergeJoin"),
      s"per-call plan must not re-assign the corpus:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "vectors join broadcast centroids, never a cartesian over data")
  }

  test("range join keys on (user, time cell) — the range is not a residual-only filter (r13)") {
    val plan = planOf(graft.operators.Analytics.rangeJoin(spark, Sf))
    // the sf1 rehearsal caught this one: an equi-join on user alone makes
    // sort-merge enumerate sum(n_u^2) same-user pairs and apply the 6h
    // range as a residual — 17x growth on 10x data. The cell column must
    // be IN the join key so candidates stay bounded to 2 windows.
    val joinLine = plan.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.exists(l => l.contains("a_cell") && l.contains("b_cell")),
      s"window cell must be IN the hash/merge join keys, not a residual:\n" +
        joinLine.getOrElse(plan.take(1500)))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the range join must stay an equi-join on (user, cell)")
  }

  test("bm25 top-k plans as TakeOrderedAndProject over one doc-keyed aggregate (r13)") {
    val df = graft.text.TextOps.bm25TopK(spark, Sf)
    val plan = planOf(df)
    // global top-k without a global sort: the score is computed map-side
    // after the 1-row stats broadcast, so the only data-sized exchange is
    // the per-doc (dl, tf*) aggregate
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "stats join must broadcast (1-row BNLJ is the adjudicated scalar class)")
    // the per-doc aggregate subtree feeds both the stats row and the scored
    // side, so its exchange prints twice pre-reuse — the invariant is that
    // every hash exchange keys on doc_id (nothing ever shuffles per term)
    // r19: the postings artifact checkpoints hash-partitioned by doc_id
    // with the layout preserved, so the ideal plan has ZERO data-sized
    // exchanges — the guard allows that and still forbids per-term keys
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(_.contains("doc_id")),
      s"scoring must not shuffle per term — doc-keyed exchanges only:\n" +
        hashEx.mkString("\n"))
    // the forall above is vacuously true when nothing matches, so pin the
    // positive layout property too: the checkpointed postings scan itself
    // is hash-partitioned by doc_id (the r19 layout-keeping artifact)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val scanLayouts = collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.RDDScanExec => s.outputPartitioning
    }
    assert(scanLayouts.exists {
      case h: HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name)) == Seq("doc_id")
      case _ => false
    }, s"the postings scan must carry hashpartitioning(doc_id): $scanLayouts")
  }
}
