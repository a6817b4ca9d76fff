package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup

/** Round-10 additions: SQ8 scalar-quantized ANN, the per-source dedup
  * impact report, and the bloom-prefilter incremental dedup.
  */
class Round10Spec extends SparkTestBase {

  test("sq8 top-k ranks are dense per query and scores are ordered") {
    val rows = Ann.sq8TopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length), s"ranks not dense for $q")
      // scores non-increasing with rank
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"scores out of order for $q")
      assert(rs.forall(r => r._2 != q), s"self-match for $q")
    }
  }

  test("sq8 is near-lossless: top-5 overlaps exhaustive top-5 heavily") {
    val exact = Ann.bruteForceTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val sq8 = Ann.sq8TopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val overlaps = exact.keys.toSeq.map(q => (sq8(q) intersect exact(q)).size)
    val recall = overlaps.sum.toDouble / (exact.size * 5)
    // int8 scalar quantization loses far less than PQ's 4x16 codebook;
    // cosine-by-dot reordering keeps this a >=0.8 signal, not exact equality
    assert(recall >= 0.8, s"sq8 recall@5 $recall")
  }

  test("ivf+sq8 proposes mostly the same neighbors as the float ivf scan") {
    def tops(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val f = tops(Ann.ivfTopK(spark, Sf))
    val s8 = tops(Ann.ivfSq8TopK(spark, Sf))
    assert(f.keySet == s8.keySet, "same probed queries")
    // same cells, int8 scores: rank flips only where cosine-vs-dot ordering
    // disagrees inside a cell — the bulk of each top list must survive
    val overlap = f.keys.toSeq.map(q => (f(q) intersect s8(q)).size).sum.toDouble
    val total = f.values.map(_.size).sum
    assert(overlap / total >= 0.6, s"ivf-sq8 overlap ${overlap / total}")
  }

  test("sq8 reconstruction error is tiny relative to vector norms") {
    val rows = Ann.sq8ReconError(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (err2, norm2) = (r.getDouble(1), r.getDouble(2))
      assert(err2 >= 0 && norm2 > 0)
      // 255 levels per dimension: quantization noise is O((range/255)^2)
      // per component — orders of magnitude under the norm
      assert(!r.isNullAt(3) && r.getDouble(3) < 0.01,
        s"rel_err ${r.getDouble(3)} for vec ${r.getLong(0)}")
    }
  }

  test("dedup report partitions every document and bounds removals") {
    val docs = graft.core.Tables.documents(spark, Sf).count()
    val rows = Dedup.report(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum == docs, "per-source doc counts must partition the corpus")
    rows.foreach { case (src, nDocs, inCl, removed) =>
      assert(removed <= inCl && inCl <= nDocs, s"bounds violated for $src")
    }
    // the corpus has planted near-duplicates -> something must be removed
    assert(rows.map(_._4).sum > 0, "planted near-dups should yield removals")
    // cross-check the total against the cluster labels themselves
    val clRemoved = Dedup.clusters(spark, Sf)
      .where(col("doc_id") =!= col("cluster_id")).count()
    assert(rows.map(_._4).sum == clRemoved)
  }

  test("bloom prefilter never misses a true duplicate and bounds FPs") {
    val s = spark; import s.implicits._
    val old = (0 until 500).map(i => (i.toLong, s"key-$i")).toDF("doc_id", "h")
    // 100 fresh docs: 30 true dups (even keys 0..58), 70 novel
    val fresh = (0 until 100).map { i =>
      (1000L + i, if (i < 30) s"key-${i * 2}" else s"novel-$i")
    }.toDF("doc_id", "h")
    val out = Dedup.bloomDedupOn(old, fresh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 100)
    assert(out.count(_._3 == 1L) == 30, "exact-dup ground truth")
    // the bloom guarantee: no false negatives, ever
    assert(out.forall { case (_, hit, exact) => exact == 0L || hit == 1L })
    // ~1% nominal FPR at 10 bits/key; allow generous slack on 70 probes
    val fps = out.count { case (_, hit, exact) => hit == 1L && exact == 0L }
    assert(fps <= 7, s"$fps false positives out of 70 novel probes")
  }

  test("graft_bloom_agg builds past the runtime-filter caps without writing session conf") {
    val capKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.get(capKey)
    // 2^27 bits is twice Spark's default 8 MB cap, which its own aggregate
    // would silently clamp to
    val bits = 1L << 27
    val bytes = spark.range(1000)
      .selectExpr(s"graft_bloom_agg(xxhash64(id), 5000000L, ${bits}L)")
      .head().getAs[Array[Byte]](0)
    assert(bytes.length >= bits / 8)
    assert(spark.conf.get(capKey) == before)
  }

  test("streaming dedup index: cross-batch + in-batch dups flagged, replay-safe") {
    import java.nio.file.{Files, Paths}
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp(n: String) = {
      val p = s"target/stream-test/dedup-$n-${System.nanoTime()}"
      Files.createDirectories(Paths.get(p)); p
    }
    val (idx, dec, ckpt) = (tmp("idx"), tmp("dec"), tmp("ckpt"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")

    val q = graft.streaming.DedupStream.start(docs, idx, dec, ckpt)
    // batch: doc 3 repeats doc 1's text -> in-batch dup, first id wins
    mem.addData((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
    q.processAllAvailable()
    // next batch: doc 4 repeats indexed text, doc 5 is novel
    mem.addData((4L, "beta text"), (5L, "gamma text"))
    q.processAllAvailable(); q.stop()

    def decisions() = spark.read.parquet(dec)
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decisions() == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))
    // the index holds exactly the kept hashes
    assert(spark.read.parquet(idx).select("h").distinct().count() == 3)

    // restart on the SAME checkpoint: old batches must not re-land or
    // re-flag; a repeat of an indexed text is still a dup
    val q2 = graft.streaming.DedupStream.start(docs, idx, dec, ckpt)
    mem.addData((6L, "alpha text"))
    q2.processAllAvailable(); q2.stop()
    assert(decisions() == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 1L))
    assert(spark.read.parquet(idx).select("h").distinct().count() == 3)
  }

  test("bloom prefilter on the corpus split agrees with the exact join") {
    val rows = Dedup.bloomDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (id, _, _) => id % 2 == 1 }, "only new-batch docs")
    assert(rows.forall { case (_, hit, exact) => exact == 0L || hit == 1L })
  }
}
