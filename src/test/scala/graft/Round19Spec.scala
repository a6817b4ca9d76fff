package graft

import org.apache.spark.sql.functions._
import graft.core.{Det, Tables}
import graft.text.TextOps

/** Round-19 optimization equivalences, pinned: the memoized-artifact
  * rewrites must produce exactly the rows the r18 formulations computed.
  *
  *  - dsir_weights / dsir_sample now aggregate the memoized per-(doc,
  *    bucket) count table; the per-token Σ lr and count(1) must equal the
  *    per-bucket Σ n·lr and Σ n (decimal sums are association-order
  *    independent; n exact copies of an exact decimal sum exactly).
  *  - text_lm_score now probes the memoized transition-probability table;
  *    it must equal the inline cb2/cb1 derivation.
  *  - the bm25 corpus scorers now read the memoized doc-length table; dl
  *    must equal the per-doc token count the raw scan produces.
  */
class Round19Spec extends SparkTestBase {

  test("dsirWeights over the bucket artifact equals the per-token formulation") {
    val nBuckets = 256
    val tok = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int").as("b"))
    val byB = tok.groupBy(col("b")).agg(count(lit(1)).as("cnt_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t"))
    val tots = byB.agg(sum(col("cnt_r")).as("n_r"), sum(col("cnt_t")).as("n_t"))
    val lr = byB.crossJoin(broadcast(tots))
      .select(col("b"),
        Det.rnd(log(
          ((col("cnt_t") + 1) * (col("n_r") + nBuckets)).cast("double") /
          ((col("cnt_r") + 1) * (col("n_t") + nBuckets))), 8)
          .cast("decimal(12,8)").as("lr"))
    val reference = tok.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        Det.rnd(sum(col("lr")).cast("double"), 6).as("dsir_logw"))
      .orderBy("doc_id").collect().toSeq
    val got = TextOps.dsirWeights(spark, Sf)
      .orderBy("doc_id").collect().toSeq
    assert(got == reference)
  }

  test("dsirSample draws exactly the docs the weights-join-documents formulation drew") {
    val w = TextOps.dsirWeights(spark, Sf)
    val src = Tables.documents(spark, Sf).select(col("doc_id"), col("source"))
    val k = 20
    val j = w.join(src, "doc_id")
      .select(col("source"), col("doc_id"),
        Det.rnd(exp(greatest(lit(-10.0), least(lit(10.0), col("dsir_logw")))), 6)
          .cast("decimal(18,6)").as("w"),
        md5(col("doc_id").cast("string")).as("hx"))
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("source")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    def below(x: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =
      floor(lit(k) * x.cast("double") / tot.cast("double") + lit(0.5) + lit(1e-9))
    val reference = j
      .withColumn("cum", sum(col("w")).over(wOrd))
      .withColumn("tot", sum(col("w")).over(wAll))
      .withColumn("picks",
        (below(col("cum"), col("tot")) - below(col("cum") - col("w"), col("tot")))
          .cast("bigint"))
      .where(col("picks") >= 1)
      .select(col("source"), col("doc_id"),
        col("w").cast("double").as("weight"), col("picks"))
      .orderBy("source", "doc_id").collect().toSeq
    val got = TextOps.dsirSample(spark, Sf)
      .orderBy("source", "doc_id").collect().toSeq
    assert(got == reference)
  }

  test("lmScore from the memoized probability table equals the inline derivation") {
    val big = Tables.documents(spark, Sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(toks)-1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cb2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val cb1 = cb2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val probs = cb2.join(cb1, "w1")
      .select(col("w1"), col("w2"),
        Det.rnd(col("c2") * lit(1.0) / col("c1"), 8).cast("decimal(12,8)").as("p"))
    val reference = big.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Det.rnd(sum(col("p")).cast("double") / count(lit(1)), 6).as("avg_p"))
      .orderBy("doc_id").collect().toSeq
    val got = TextOps.lmScore(spark, Sf).orderBy("doc_id").collect().toSeq
    assert(got == reference)
  }

  test("bm25Batch with the memoized doc-length table equals the per-call dl aggregation") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // the r18 formulation inline: postings + dl both aggregated per call
    val tf0 = Tables.documents(spark, Sf)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val queries = TextOps.Bm25Queries.map { case (q, ts) => (q, ts.distinct) }
    val qterms = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val dl = tf0.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val nd = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = tf0.where(col("tok").isin(allTerms: _*))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val k = 5
    val scored = tf
      .join(broadcast(dfreq), "tok")
      .join(broadcast(qterms.withColumnRenamed("term", "tok")), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nd))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(TextOps.bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_tokens"))).as("dscore"))
      .select(col("query_id"), col("doc_id"),
        col("dscore").cast("double").as("score"))
      .where(col("score") > 0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val reference = scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .orderBy("query_id", "rank").collect().toSeq
    val got = TextOps.bm25Batch(spark, Sf).orderBy("query_id", "rank")
      .collect().toSeq
    assert(got == reference)
  }

  test("ByWork sizing clamps a huge rows x fanout to executor width, not 2 partitions") {
    import graft.core.Artifact
    val width = spark.sparkContext.defaultParallelism
    assert(width > 2, "the clamp is only observable above the 2-partition floor")
    // 4 rows x 2^40 fanout / 1 cell per task = 2^42 cells: an Int cast
    // wraps that to 0 and the floor collapses the artifact to 2 partitions
    val df = spark.range(4).toDF("id")
    assert(Artifact.materialize(df, Artifact.Layout.ByWork(fanout = 1L << 40, cellsPerTask = 1))
      .rdd.getNumPartitions == width)
    // the multiply itself saturates: Long.MaxValue fanout never overflows
    assert(Artifact.materialize(df, Artifact.Layout.ByWork(fanout = Long.MaxValue, cellsPerTask = 1))
      .rdd.getNumPartitions == width)
  }
}
