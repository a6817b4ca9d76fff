package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Artifact, Det, Tables}
import graft.core.Artifact.Layout

/** Typed metadata a decoder extracts from one media payload. */
case class MediaMeta(doc_id: Long, byte_len: Long, fingerprint: String,
                     fake_width: Long, fake_height: Long, fake_channels: Long,
                     fake_is_keyframe: Boolean)

/** Typed per-media features: fixed-dim embedding, resize target, sampled
  * frame offsets.
  */
case class MediaFeatures(doc_id: Long, embedding: Array[Double],
                         resized_w: Long, resized_h: Long,
                         frame_offsets: Array[Long])

/** Multimodal column handling: media as opaque `binary` payloads with typed,
  * queryable metadata.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic stub ([[fakeDecodeMeta]]); everything
  * Spark-side — binary payload column, metadata schema, partition-friendly
  * fingerprinting, batch shape — is real. In production the stub body is
  * replaced by a codec invoked per-partition (mapPartitions over an
  * Iterator[Row] with reused decoder instances); the surrounding plan is
  * unchanged.
  */
object Multimodal {

  /** Extract typed metadata from an opaque binary payload.
    *
    * STUB: width/height/channels are derived deterministically from the
    * payload's md5 — stands in for a real header parse. Byte length and
    * fingerprint are real.
    */
  def meta(s: SparkSession, d: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8") // opaque bytes; stands in for image/audio blobs
    val fp = md5(payload)
    // hex pair -> int in [0, 255], from fixed positions of the fingerprint
    def hexByte(pos: Int) =
      conv(substring(fp, pos, 2), 16, 10).cast("int")
    val out = Tables.documents(s, d).select(
      col("doc_id"),
      length(payload).cast("bigint").as("byte_len"),
      fp.as("fingerprint"),
      (lit(64) + hexByte(1) % 192).cast("bigint").as("fake_width"),   // STUB: header parse
      (lit(64) + hexByte(3) % 192).cast("bigint").as("fake_height"),  // STUB: header parse
      (lit(1) + hexByte(5) % 4).cast("bigint").as("fake_channels"),   // STUB: header parse
      (hexByte(7) % 2 === 0).as("fake_is_keyframe"))                  // STUB: frame sample
    Det.ordered(out)
  }

  /** The per-partition decode pipeline: one decoder instance per partition
    * (codec init is expensive — amortized over the partition's rows), rows
    * streamed through it, typed case-class output. This is the plumbing a
    * real image/audio decode runs through at 100 TB; only the decoder body
    * is a deterministic STUB (md5-derived header fields, same values as
    * [[meta]]).
    */
  def decodeMeta(s: SparkSession, d: String): Dataset[MediaMeta] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // STUB decoder: stands in for e.g. a JNI codec handle per partition
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          digest.reset()
          val fp = digest.digest(payload).map("%02x".format(_)).mkString
          def hexByte(pos: Int) = // 1-based, matches conv(substring(fp, pos, 2), 16, 10)
            Integer.parseInt(fp.substring(pos - 1, pos + 1), 16)
          MediaMeta(id, payload.length.toLong, fp,
            64L + hexByte(1) % 192, 64L + hexByte(3) % 192, 1L + hexByte(5) % 4,
            hexByte(7) % 2 == 0)
        }
      }
  }

  /** Feature-extract / resize / frame-sample over the same per-partition
    * batch shape: a fixed-dim feature vector per payload (STUB: md5-derived
    * floats stand in for a vision encoder), the aspect-preserving resize
    * target for a 224-box, and evenly-sampled "frame" byte offsets (STUB for
    * video frame sampling). The partition iterator is where a real codec +
    * model session would be reused across rows.
    */
  /** [[decodeFeatures]] rendered as an oracle-checkable DataFrame: the
    * scalar outputs of the per-partition decode (resize target + sampled
    * frame offsets). The embedding stays Spark-side only (binary md5
    * concatenation is not portably expressible in the oracle engine).
    */
  def features(s: SparkSession, d: String): DataFrame = {
    val ds = decodeFeatures(s, d)
    val out = ds.select(col("doc_id"), col("resized_w"), col("resized_h"),
      element_at(col("frame_offsets"), 1).as("f0"),
      element_at(col("frame_offsets"), 2).as("f1"),
      element_at(col("frame_offsets"), 3).as("f2"),
      element_at(col("frame_offsets"), 4).as("f3"))
    Det.ordered(out)
  }

  /** Media similarity search: brute-force cosine top-k over the decoded
    * (STUB) media embeddings — the multimodal → ANN composition a
    * dedup-by-content pipeline runs after feature extraction. The embeddings
    * come from the genuine mapPartitions decode ([[decodeFeatures]]), whose
    * stub math is pinned to [[hexEmbedding]]'s hex-pair mapping — every
    * product/sum is an exact multiple of 2^-28, so the cosine top-k replays
    * bit-exactly in the SQL oracle (graduated from rows-only in r12).
    */
  def embedTopK(s: SparkSession, d: String, k: Int = 5, nQueries: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val e = decodeFeatures(s, d).toDF()
      .select(col("doc_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(VectorFunctions.dot(s, col("v"), col("v"))))
    val q = e.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    val out = e.join(broadcast(q), col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("n_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine"))
      .select(col("q_id"), col("n_id"), col("cosine"),
        row_number().over(w).cast("bigint").as("rank"))
      .where(col("rank") <= k)
    Det.ordered(out)
  }

  /** Hex-derived media embedding (doc_id, v[16]): dimension j is the j-th
    * hex pair of the payload fingerprint, mapped to [-1, 1). Unlike the
    * mapPartitions stub embedding ([[decodeFeatures]]), every step here is
    * SQL-expressible — which makes the LSH-vs-exact recall over it
    * ([[mmRecall]]) oracle-checkable end to end, closing the one ANN surface
    * (media similarity) whose accuracy was previously estimate-only.
    */
  def hexEmbedding(s: SparkSession, d: String): DataFrame = {
    val fp = md5(encode(col("text"), "UTF-8"))
    Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fp")) // materialize: HOF lambdas re-eval captured exprs per element
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(15)), j =>
          (conv(col("fp").substr(j * lit(2) + lit(1), lit(2)), 16, 10).cast("int")
            - lit(128)) / lit(128.0)).as("v"))
  }

  /** Measured recall@k of LSH-bucketed media similarity against the
    * exhaustive ground truth, over the hex-derived embedding — the standing
    * eval the multimodal pipeline runs before trusting its ANN index (same
    * pattern as [[graft.ann.Ann.recallAtK]], and like it oracle-checked:
    * the hyperplanes are md5-derived constants the oracle inlines).
    */
  def mmRecall(s: SparkSession, d: String, k: Int = 5, nQueries: Int = 20,
               nPlanes: Int = 4, nTables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val e = hexEmbedding(s, d)
      .select(col("doc_id"), col("v"),
        sqrt(VectorFunctions.dot(s, col("v"), col("v"))).as("nrm"))
      .cache()
    val q = e.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    def rankTopK(scored: DataFrame): DataFrame = scored
      .select(col("q_id"), col("n_id"), col("cosine"),
        row_number().over(w).cast("bigint").as("rank"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"))
    val exact = rankTopK(e.join(broadcast(q), col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("n_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine")))
    // random-hyperplane buckets over the 16-dim embedding; rounded sign test
    // (Det.rnd / rndSql) keeps bucket assignment engine-exact
    def sign(t: Int, p: Int) =
      when(Det.rnd(VectorFunctions.dot(s, col("v"),
        typedLit(graft.ann.Ann.plane(t * 1000 + p, 16).toSeq)), 6) >= 0, lit(1))
        .otherwise(lit(0))
    def bucket(t: Int) =
      (0 until nPlanes).map(p => sign(t, p) * (1 << p): org.apache.spark.sql.Column)
        .reduce(_ + _)
    val withB = e.select(col("doc_id") +: col("v") +: col("nrm") +:
      (0 until nTables).map(t => bucket(t).as(s"bkt$t")): _*)
    val stackExpr = (0 until nTables).map(t => s"$t, bkt$t").mkString(", ")
    val b = withB.selectExpr("doc_id", "v", "nrm",
      s"stack($nTables, $stackExpr) AS (tbl, bucket)").cache()
    val qb = b.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
    val cands = b.join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
        col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("n_id")).distinct()
    val lsh = rankTopK(cands
      .join(e.select(col("doc_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), "q_id")
      .join(e.select(col("doc_id").as("n_id"), col("v"), col("nrm")), "n_id")
      .select(col("q_id"), col("n_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine")))
    val out = exact.as("e")
      .join(lsh.as("l"), col("e.q_id") === col("l.q_id") && col("e.n_id") === col("l.n_id"),
        "left")
      .agg(count(col("l.n_id")).as("n_hits"), count(lit(1)).as("n_truth"))
      .select(lit(s"lsh${nTables}x$nPlanes").as("method"), col("n_hits"), col("n_truth"),
        Det.rnd(col("n_hits") * lit(1.0) / col("n_truth"), 4).as("recall"))
    out
  }

  // ---- perceptual-hash near-dup for media ---------------------------------

  /** 64-bit perceptual hash (aHash structure) of the media payload: the
    * payload's character stream is split into 64 equal blocks — the
    * downsampled-pixel-grid analog — and bit b is set when block b's mean
    * value exceeds the whole payload's mean. The compare is cross-multiplied
    * integer arithmetic (`bsum·n > tsum·bcnt`), so both engines decide every
    * bit identically — the whole hash is SQL-expressible and the pair
    * searches over it are oracle-checked end to end. Packed into two 32-bit
    * halves like the SimHash signature table (one xor + popcount per pair
    * test; per-row cost here is O(len) via the position explode — at 100 TB
    * the same hash computes in a mapPartitions decode pass).
    */
  def phashSignatures(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{sum => fsum}
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text").as("t"), length(col("text")).as("n"))
      .where(col("n") >= 1)
    val chars = base
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(1), col("n"))).as("p"))
      .select(col("doc_id"), col("n"),
        expr("CAST((p - 1) * 64 DIV n AS INT)").as("blk"),
        ascii(expr("substring(t, p, 1)")).as("code"))
    val blkAgg = chars.groupBy(col("doc_id"), col("blk"))
      .agg(fsum(col("code")).as("bsum"), count(lit(1)).as("bcnt"))
    val tot = chars.groupBy(col("doc_id"))
      .agg(fsum(col("code")).as("tsum"), count(lit(1)).as("n"))
    val bits = blkAgg.join(tot, "doc_id")
      .select(col("doc_id"), col("blk"),
        (col("bsum") * col("n") > col("tsum") * col("bcnt")).as("bit"))
    bits.groupBy(col("doc_id")).agg(
      coalesce(fsum(when(col("bit") && col("blk") < 32,
        expr("shiftleft(CAST(1 AS BIGINT), blk)"))), lit(0L)).as("sig_lo"),
      coalesce(fsum(when(col("bit") && col("blk") >= 32,
        expr("shiftleft(CAST(1 AS BIGINT), blk - 32)"))), lit(0L)).as("sig_hi"))
  }

  /** Memoized pHash signature table — the stored index both pair searches
    * probe (the simhashSigTable pattern). */
  private def phashSigTable(s: SparkSession, d: String): DataFrame =
    Artifact.build(s, s"mm.phash|$d", Layout.Wide)(phashSignatures(s, d))

  /** Exhaustive media near-dup pairs (hamming <= maxHamming over the pHash)
    * — the oracle baseline for [[phashDedup]], never the 100 TB path.
    */
  def phashPairs(s: SparkSession, d: String, maxHamming: Int = 12): DataFrame =
    Det.ordered(graft.dedup.Dedup.exhaustiveHammingPairs(
      phashSigTable(s, d), maxHamming))

  /** Media near-dup pairs via PIGEONHOLE bucketing — the 100 TB path,
    * riding the SimHash chunk machinery unchanged (the packed
    * `(chunk << 8) | value` single-long bucket key): signatures within
    * hamming distance `maxHamming` must agree on one of `maxHamming + 1`
    * chunks, so candidates come from bucket joins and the xor-popcount
    * verification never sees the corpus square. Same result set as
    * [[phashPairs]].
    */
  def phashDedup(s: SparkSession, d: String, maxHamming: Int = 12): DataFrame =
    Det.ordered(graft.dedup.Dedup.bucketedHammingPairs(
      phashSigTable(s, d), maxHamming))

  /** Media near-dup CLUSTERS: connected components over the pigeonhole
    * pair set — the media twin of `dedup_clusters`, turning pairwise
    * hamming hits into the per-cluster keep/canonical decisions a media
    * pipeline actually applies (pairs alone can't answer "which of these
    * five crops is the keeper"). Rides [[graft.dedup.Dedup.clustersOn]]'s
    * min-label propagation unchanged — one components machinery for text
    * and media graphs.
    */
  def phashClusters(s: SparkSession, d: String, maxHamming: Int = 12): DataFrame =
    graft.dedup.Dedup.clustersOn(
      graft.dedup.Dedup.bucketedHammingPairs(phashSigTable(s, d), maxHamming))

  // ---- cross-modal retrieval ----------------------------------------------

  /** 64-dim SQL-expressible media embedding: four md5 streams over the
    * payload (`text#k`), 16 hex-pair dims each, mapped to [-1, 1) — the
    * [[hexEmbedding]] construction widened to the TEXT embedding table's
    * dimensionality so both modalities share one vector space (the CLIP
    * stand-in; components are exact multiples of 1/128, so cross-engine
    * math needs no decimal carry).
    */
  def hexEmbedding64(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val withFp = doc.select(col("doc_id") +:
      (0 until 4).map(k =>
        md5(concat(col("text"), lit(s"#$k"))).as(s"fp$k")): _*)
    withFp.select(col("doc_id"),
      flatten(array((0 until 4).map(k =>
        transform(sequence(lit(0), lit(15)), j =>
          (conv(col(s"fp$k").substr(j * lit(2) + lit(1), lit(2)), 16, 10)
            .cast("int") - lit(128)) / lit(128.0))): _*)).as("v"))
  }

  /** [[hexEmbedding64]] with norms, memoized per (session, sfDir) — the
    * media-side embedding table is an INDEX ARTIFACT every cross-modal
    * consumer probes (exact top-k, the shared-IVF probe, the recall
    * harness), not a per-query recomputation: at 100 TB it is the stored
    * output of the encode pass, and the memo models exactly that. */
  private def hexEmb64Table(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions
    Artifact.build(s, s"mm.hex64|$d", Layout.Wide)(
      hexEmbedding64(s, d)
        .select(col("doc_id"), col("v"),
          sqrt(VectorFunctions.dot(s, col("v"), col("v"))).as("nrm")))
  }

  /** Cross-modal retrieval, exact: TEXT-embedding queries (the embeddings
    * table) against the MEDIA embedding corpus — the CLIP-retrieval shape
    * (text query → media neighbors), brute-force cosine top-k as the
    * recall-1.0 baseline. Oracle-checked end to end (both embedding forms
    * are SQL-expressible / parquet-read).
    */
  def crossTopK(s: SparkSession, d: String, k: Int = 5, nQueries: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val m = hexEmb64Table(s, d)
      .select(col("doc_id").as("m_id"), col("v"), col("nrm"))
    val q = Tables.embeddings(s, d).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
      .select(col("q_id"), col("qv"),
        sqrt(VectorFunctions.dot(s, col("qv"), col("qv"))).as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("m_id"))
    val out = m.join(broadcast(q), lit(true))
      .select(col("q_id"), col("m_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine"))
      .select(col("q_id"), col("m_id"), col("cosine"),
        row_number().over(w).cast("bigint").as("rank"))
      .where(col("rank") <= k)
    Det.ordered(out)
  }

  /** Cross-modal retrieval over the SHARED IVF index (the deployment
    * shape): media vectors are assigned to the text-corpus-trained coarse
    * codebook ([[graft.ann.Ann.ivfCodebook]] — the same memoized/persisted
    * index every text consumer probes), and each text query searches only
    * the media vectors of its probed cell. Per-query cost is cell
    * occupancy, not corpus size; training, assignment and scoring replay
    * deterministically, so the oracle checks the whole composition.
    */
  def crossIvfTopK(s: SparkSession, d: String, k: Int = 5, nQueries: Int = 20,
                   nCentroids: Int = 16, trainIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val cents = graft.ann.Ann.ivfCodebook(s, d, nCentroids, trainIters)
    def assign(vecs: DataFrame, idCol: String): DataFrame = {
      val wA = Window.partitionBy(col(idCol)).orderBy(col("c_cos").desc, col("c_id"))
      vecs.join(broadcast(cents), lit(true))
        .select(col(idCol), col("v"), col("nrm"), col("c_id"),
          round(try_divide(VectorFunctions.dot(s, col("v"), col("cv")),
            col("nrm") * col("cn")), 6).as("c_cos"))
        .withColumn("arn", row_number().over(wA))
        .where(col("arn") === 1)
        .select(col(idCol), col("v"), col("nrm"), col("c_id").as("cell"))
    }
    val media = assign(hexEmb64Table(s, d), "doc_id")
      .select(col("doc_id").as("m_id"), col("v"), col("nrm"), col("cell"))
    // text queries probe their own stored cell, in the QUANTIZED vector
    // form the codebook was trained on (ann_ivf's convention)
    val q = assign(graft.ann.Ann.quantNormTable(s, d).where(col("vec_id") < nQueries),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("cell").as("q_cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("m_id"))
    val out = media.join(broadcast(q), col("cell") === col("q_cell"))
      .select(col("q_id"), col("m_id"),
        round(try_divide(VectorFunctions.dot(s, col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("cosine"))
      .select(col("q_id"), col("m_id"), col("cosine"),
        row_number().over(w).cast("bigint").as("rank"))
      .where(col("rank") <= k)
    Det.ordered(out)
  }

  /** Measured recall@k of the shared-IVF cross-modal search against the
    * exhaustive cross-modal truth — the standing eval run before trusting
    * the shared index for text→media retrieval (the [[mmRecall]] /
    * [[graft.ann.Ann.recallAtK]] pattern on the cross-modal axis). Both
    * sides replay deterministically, so the oracle checks the measurement
    * itself, not just the plumbing.
    */
  def crossRecall(s: SparkSession, d: String, k: Int = 5, nQueries: Int = 20): DataFrame = {
    val exact = crossTopK(s, d, k, nQueries).select(col("q_id"), col("m_id"))
    val ivf = crossIvfTopK(s, d, k, nQueries)
      .select(col("q_id").as("l_q"), col("m_id").as("l_m"))
    exact
      .join(ivf, col("q_id") === col("l_q") && col("m_id") === col("l_m"), "left")
      .agg(count(col("l_m")).as("n_hits"), count(lit(1)).as("n_truth"))
      .select(lit("ivf16_shared").as("method"), col("n_hits"), col("n_truth"),
        Det.rnd(col("n_hits") * lit(1.0) / col("n_truth"), 4).as("recall"))
  }

  def decodeFeatures(s: SparkSession, d: String, dim: Int = 16,
                     nFrames: Int = 4): Dataset[MediaFeatures] = {
    // the r12 oracle-pinned stub draws dimension i from digest byte i, so
    // one md5 bounds the dimensionality (the old per-dim re-digest did not)
    require(dim <= 16, s"stub embedding is md5-derived: dim <= 16, got $dim")
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          digest.reset()
          val h = digest.digest(payload)
          // STUB embedding: byte i of md5(payload) -> [-1, 1). Deliberately
          // the same math as [[hexEmbedding]]'s hex-pair mapping (digest
          // byte i IS hex pair 2i+1..2i+2), so the mapPartitions decode
          // path itself is oracle-checkable: embedTopK over this embedding
          // replays bit-exactly in the SQL oracle engine.
          val vec = Array.tabulate(dim)(i => ((h(i) & 0xff) - 128) / 128.0)
          val (w0, h0) = (64L + (h(0) & 0xff) % 192, 64L + (h(1) & 0xff) % 192)
          val scale = 224.0 / math.max(w0, h0)
          val frames = Array.tabulate(nFrames)(i =>
            (payload.length.toLong * i) / nFrames)
          MediaFeatures(id, vec,
            math.round(w0 * scale), math.round(h0 * scale), frames)
        }
      }
  }
}
