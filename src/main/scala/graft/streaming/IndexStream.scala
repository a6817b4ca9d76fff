package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.text.TextOps

/** Streaming maintenance of the text-retrieval index — [[AnnStream]]'s
  * index-maintenance pattern applied to BM25: documents arrive
  * continuously, every micro-batch tokenizes with the batch pipeline's
  * exact analyzer ([[TextOps.tokens]]) and appends its postings
  * `(tok, doc_id, tf)` and document lengths to the index, so ranked
  * retrieval stays fresh without ever re-indexing the corpus.
  *
  * Scale & idempotency: postings are parquet partitioned by
  * `(bucket, ingest_batch)` where `bucket` = md5-hash of the term mod
  * [[IndexStream.NBuckets]] — a query's terms restrict the read to their
  * buckets as partition PRUNING on storage (plus the pushed `tok IN`
  * row-group filter inside them), so probe cost tracks matching postings,
  * not index size. `ingest_batch` rides dynamic partition overwrite: a
  * crash-replayed micro-batch rewrites exactly the partitions it wrote
  * before the crash (tokenization is deterministic), landing
  * bit-identically instead of duplicating postings — the [[DedupStream]]
  * replay contract. The doc stream is append-only (each doc_id arrives
  * once), the same precondition the other index streams state.
  *
  * Global statistics (N, total tokens, df) are NOT frozen at write time:
  * [[search]] derives them from the index at query time, so a streamed
  * index and a batch-built one answer identically — proven against
  * [[TextOps.bm25TopKOn]] in the spec.
  */
object IndexStream {

  /** Term-hash partition count: enough spread that one bucket holds a
    * sliver of the vocabulary, few enough that directory fan-out stays
    * bounded per micro-batch. */
  val NBuckets = 64

  private[streaming] def bucketCol(tok: Column): Column =
    pmod(conv(substring(md5(tok), 1, 4), 16, 10).cast("long"), lit(NBuckets))

  /** Driver-side twin of [[bucketCol]] for restricting a query's read. */
  private[streaming] def bucketIdOf(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 4), 16) % NBuckets
  }

  /** Start index maintenance over a streaming (doc_id, text) source. */
  def start(docs: DataFrame, indexDir: String,
            checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landPostings(batch, batchId, fam => s"$indexDir/$fam")
      }
      .start()

  /** The ONE postings writer ([[start]] and `CdcIndexSync`'s batch
    * landing): tokenize `docs` `(doc_id, text)` with [[TextOps.tokens]]
    * and land, under `ingest_batch = batch`, the postings `(tok, doc_id,
    * tf)` by `(bucket, ingest_batch)`, the document lengths and the term
    * dictionary, each in the directory `dirOf(<family>)`. A batch with no
    * tokens writes nothing: a rowless dynamic overwrite would still create
    * a parquet dir without a schema (the ADVICE r14 wedge).
    */
  private[streaming] def landPostings(docs: DataFrame, batch: Long,
                                      dirOf: String => String): Unit = {
    val tok = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // one tokenize feeds postings AND lengths
    if (!tok.isEmpty) {
      CdcStream.land(
        tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
          .withColumn("bucket", bucketCol(col("tok"))),
        dirOf("postings"), batch, "bucket")
      CdcStream.land(tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
        dirOf("doclen"), batch)
      // the term-dictionary sidecar (r15): the batch's DISTINCT terms with
      // their hash bucket — tiny next to postings (vocabulary, not
      // doc×term), and what lets a prefix probe open only the buckets
      // holding matching terms (see [[search]])
      CdcStream.land(
        tok.select(col("tok")).distinct().withColumn("bucket", bucketCol(col("tok"))),
        dirOf("termdict"), batch)
    }
  }

  /** BM25 top-k over the streamed index: the postings read restricts to
    * the query terms' hash buckets (partition pruning) with the `tok IN`
    * predicate pushed into the scan; corpus statistics come from the
    * doc-length table at query time. Output (doc_id, dl, score) matches
    * [[TextOps.bm25TopKOn]] row for row.
    */
  def search(s: SparkSession, indexDir: String, query0: Seq[String],
             k: Int = 20): DataFrame = {
    // duplicate query terms collapse — the rule bm25TopKOn shares, so the
    // "row for row" contract holds for any query shape
    val dl = s.read.parquet(s"$indexDir/doclen")
      .select(col("doc_id"), col("dl"))
    val (exact, prefixes) = TextOps.splitSearchTerms(query0.distinct)
    val query =
      if (prefixes.isEmpty) exact
      else {
        // prefix expansion over the index's vocabulary, matching
        // [[TextOps.bm25TopKOnPrefix]] (the corpus is append-only — no
        // liveness to validate). The dictionary prunes the expansion scan
        // to candidate buckets when it is COMPLETE (one partition per
        // ingest_batch the index holds — a mid-stream writer upgrade
        // leaves earlier batches dictionary-less, and pruning on a
        // partial dictionary would silently drop their terms); otherwise
        // the expansion scans postings unpruned, still correct.
        val postAll = s.read.parquet(s"$indexDir/postings")
        val vocab = dictBuckets(s, indexDir, prefixes) match {
          case Some(bs) if bs.isEmpty => postAll.limit(0)
          case Some(bs) => postAll.where(col("bucket").isin(bs: _*))
          case None => postAll
        }
        (exact ++ TextOps.expandPrefixes(vocab.select(col("tok")), prefixes)).distinct
      }
    if (query.isEmpty)
      return dl.select(col("doc_id"), col("dl"),
        lit(0.0).as("score")).limit(0)
    val buckets = query.map(bucketIdOf).distinct
    val post = s.read.parquet(s"$indexDir/postings")
      .where(col("bucket").isin(buckets: _*) && col("tok").isin(query: _*))
    searchOn(post, dl, query, k)
  }

  /** Candidate buckets for the prefixes from the termdict sidecar, or
    * None when the dictionary is absent or INCOMPLETE (missing a batch
    * the index holds — detected by comparing `ingest_batch=` partitions
    * against doclen's, the family every batch writes). */
  private[graft] def dictBuckets(s: SparkSession, indexDir: String,
                                 prefixes: Seq[String]): Option[Seq[Long]] = {
    val conf = s.sparkContext.hadoopConfiguration
    def batches(dir: String): Option[Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(fs.listStatus(p).toSet.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("ingest_batch=")))
    }
    (batches(s"$indexDir/termdict"), batches(s"$indexDir/doclen")) match {
      case (Some(d), Some(l)) if l.subsetOf(d) =>
        Some(s.read.parquet(s"$indexDir/termdict")
          .where(prefixes.map(p => col("tok").startsWith(p)).reduce(_ || _))
          .select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq)
      case _ => None
    }
  }

  /** The index-shaped BM25 scorer over an ALREADY query-restricted postings
    * frame `(doc_id, tok, tf)` and a doc-length frame `(doc_id, dl)` —
    * the scoring core [[search]] and [[graft.streaming.CdcIndexSync]] share,
    * so the streamed corpus index and the CDC-maintained series index apply
    * one rule (corpus stats derived from the index at query time, 6-decimal
    * contribution rounding, the `score > 0` inclusion filter — all matching
    * [[TextOps.bm25TopKOn]]). `query` must already be distinct and `post`
    * already restricted to its terms (df is computed from `post` as given).
    */
  /** Score `post` (matched postings) against `dl` (per-doc lengths; rows
    * define the LIVE doc set — the join restricts scoring and df counts
    * to docs present in it). `stats` short-circuits the corpus-stats
    * aggregation with precomputed (n_docs, total_tokens) — the serving
    * path's refresh cache (r18) computes them once per index state
    * instead of once per request. df is counted AFTER the dl join so the
    * two entry points agree: for the CDC index dl is alive-only (df must
    * exclude dead docs); for the append-only batch index dl is the whole
    * corpus and the join restricts nothing.
    */
  private[graft] def searchOn(post: DataFrame, dl: DataFrame,
                              query: Seq[String], k: Int,
                              stats: Option[(Long, Long)] = None): DataFrame = {
    val matched = post.join(dl, "doc_id")
    // df rides a tok-PARTITIONED window instead of a pre-aggregated
    // broadcast join (r18): same count over the same matched rows, but
    // one pass — the broadcast shape cost an extra scan of the probe
    // plus a separate broadcast-build job, and under write load each
    // extra job submission waits out the maintenance queue once more
    val withDf = matched.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
    val withStats = stats match {
      case Some((n, tot)) =>
        withDf.withColumn("n_docs", lit(n)).withColumn("total_tokens", lit(tot))
      case None =>
        val st = dl.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("total_tokens"))
        withDf.crossJoin(broadcast(st))
    }
    val scored = withStats
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(TextOps.bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_tokens"))).as("dscore"))
      .select(col("doc_id"), col("dl"),
        col("dscore").cast("double").as("score"))
      // the ONE inclusion rule all the scorers share (bm25TopKOn,
      // bm25Batch, here): a doc whose per-term contributions all round to
      // 0.000000 is not a match — without this filter an index scorer
      // could surface it while the batch scorer doesn't, silently breaking
      // the row-for-row contract (ADVICE r13)
      .where(col("score") > 0)
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }
}
