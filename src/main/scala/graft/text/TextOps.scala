package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Artifact, Det, Tables}
import graft.core.Artifact.Layout

/** Text-analysis operators for training-data pipelines over `documents`.
  * All pure column expressions (whole-stage codegen, no UDFs) so they run at
  * scan speed on 100 TB and replicate bit-for-bit in the DuckDB oracle.
  */
object TextOps {

  /** Canonical normalization shared by every text operator: lowercase, trim,
    * collapse whitespace.
    */
  def norm(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  def tokens(c: Column): Column = split(norm(c), " ")

  /** Distinct word k-shingles (k consecutive tokens joined by one space)
    * from an ALREADY-MATERIALIZED token-array column. The lambda must
    * reference a bound attribute, not a derived expression: inside a
    * higher-order function each `element_at(toks, _)` re-evaluates its
    * argument, so passing `tokens(text)` directly re-runs the normalize
    * regex + split per element (~150x per row — measured 40x slowdown).
    * Documents shorter than k tokens yield none.
    */
  def shinglesOf(toks: Column, k: Int): Column =
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k), i =>
          concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>")))

  /** Stopword lists per language; `stopwords` is the single source both the
    * Scala operators and the generated oracle SQL read from.
    */
  private[graft] def stopwords(lang: String): Seq[String] = stop(lang)

  private val stop = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "se", "no", "por"),
    "fr" -> Seq("le", "de", "un", "et", "la", "les", "des", "en", "du", "une"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "ist"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "ren2", "wo3", "zai4", "you3", "ta1", "zhe4"))

  private def stopCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(stop(lang).map(lit)))).cast("bigint")

  /** Heuristic language ID: stopword-overlap score per language, argmax with
    * a fixed tie order (en > es > fr > de > zh).
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    // materialize the token array once; referencing tokens(text) in all five
    // scores would re-run the normalize regex + split per score column
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        stopCount(col("toks"), "en").as("s_en"), stopCount(col("toks"), "es").as("s_es"),
        stopCount(col("toks"), "fr").as("s_fr"), stopCount(col("toks"), "de").as("s_de"),
        stopCount(col("toks"), "zh").as("s_zh"))
    val best = greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_de"), col("s_zh"))
    val out = scored.select(
      col("doc_id"), col("s_en"), col("s_es"), col("s_fr"), col("s_de"), col("s_zh"),
      when(col("s_en") === best, "en").when(col("s_es") === best, "es")
        .when(col("s_fr") === best, "fr").when(col("s_de") === best, "de")
        .otherwise("zh").as("pred_lang"))
    Det.ordered(out)
  }

  /** Language-ID confusion matrix: the heuristic's predictions against the
    * corpus's ground-truth `lang` column — the measured-accuracy report
    * (ann_recall / minhash_est_quality's pattern applied to langid). One
    * |langs|² aggregate over the scored docs.
    */
  def langidConfusion(s: SparkSession, d: String): DataFrame = {
    val pred = langId(s, d).select(col("doc_id"), col("pred_lang"))
    val out = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    Det.ordered(out)
  }

  /** Stratified balancing: downsample every language stratum to the size of
    * the SMALLEST one, picking survivors by a deterministic md5 order — the
    * domain-balancing step a training-data mix runs after language ID
    * (uniform-at-random per stratum, reproducible across engines/runs).
    * One shuffle to rank within strata; the target size is a broadcast
    * single-row aggregate, never a driver round-trip.
    */
  def stratifiedBalance(s: SparkSession, d: String): DataFrame = {
    val lang = langId(s, d).select(col("doc_id"), col("pred_lang"))
    val target = lang.groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("target"))
    val w = Window.partitionBy(col("pred_lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val out = lang
      .select(col("doc_id"), col("pred_lang"),
        row_number().over(w).cast("bigint").as("stratum_rank"))
      .join(broadcast(target))
      .where(col("stratum_rank") <= col("target"))
      .select(col("doc_id"), col("pred_lang"), col("stratum_rank"))
    Det.ordered(out)
  }

  /** Distributed sequence packing: assign documents to fixed-token-budget
    * shards — the batch-assembly step before tokenized training data is
    * written. Documents are spread over `nBuckets` deterministic hash
    * buckets (the parallelism unit: each bucket packs independently, so the
    * running sum is partitioned, never a global single-partition window),
    * then greedily packed in md5 order: a document's shard is its bucket's
    * running token count before it, divided by the budget.
    */
  def packShards(s: SparkSession, d: String, shardTokens: Long = 2000,
                 nBuckets: Int = 16): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("pack_bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
          .cast("bigint") % nBuckets)
    val w = Window.partitionBy(col("pack_bucket"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = t
      .select(col("doc_id"), col("pack_bucket"), col("n_tokens"),
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / shardTokens)
          .cast("bigint").as("shard_id"))
    Det.ordered(out)
  }

  /** Shard manifest — the writer-side summary every packed dataset ships
    * next to its shards: per (pack bucket, shard) the doc count, token
    * total, fill ratio against the packing target, and the SOURCE MIX
    * (distinct sources + dominant-source share — the signal that a shard
    * accidentally went single-source, which breaks the shuffled-data
    * assumption downstream loaders make). Rides [[packShards]]'
    * assignment unchanged; one aggregate pass over it.
    */
  def shardManifest(s: SparkSession, d: String, shardTokens: Long = 2000,
                    nBuckets: Int = 16): DataFrame = {
    val asg = packShards(s, d, shardTokens, nBuckets)
    val j = asg.join(Tables.documents(s, d).select(col("doc_id"), col("source")),
      "doc_id")
    val perSrc = j.groupBy(col("pack_bucket"), col("shard_id"), col("source"))
      .agg(count(lit(1)).as("sd"), sum(col("n_tokens")).as("st"))
    val out = perSrc.groupBy(col("pack_bucket"), col("shard_id"))
      .agg(sum(col("sd")).as("n_docs"), sum(col("st")).as("total_tokens"),
        count(lit(1)).as("n_sources"), max(col("sd")).as("mx"))
      .select(col("pack_bucket"), col("shard_id"), col("n_docs"),
        col("total_tokens"),
        Det.rnd(col("total_tokens") / lit(shardTokens.toDouble), 4).as("fill_ratio"),
        col("n_sources"),
        Det.rnd(col("mx") / col("n_docs"), 4).as("dom_source_share"))
    Det.ordered(out)
  }

  /** Compression-ratio quality signal: deflated size over raw size. Machine
    * -generated/boilerplate text compresses far below natural prose, making
    * this the classic cheap one-pass quality filter (the Gopher-family
    * pipelines gate on it). zlib is not SQL-expressible => verified
    * rows-only, with the monotonicity/range properties ScalaTest-asserted.
    * One Deflater instance per partition (native buffer reuse) — the same
    * justified mapPartitions shape as the multimodal decoders, with a real
    * codec.
    */
  def compressionRatio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          (id, raw.length.toLong, compressed,
            math.rint(compressed.toDouble / math.max(raw.length, 1) * 10000) / 10000.0)
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed", "compression_ratio")
    Det.ordered(out)
  }

  /** Quality scoring: length / token / stopword / alpha / punctuation
    * signals combined into one score, the standard pre-filter shape for web
    * corpora.
    */
  def quality(s: SparkSession, d: String): DataFrame = {
    // materialize the normalized text and derived counts once — every ratio
    // reads the computed columns instead of re-running the regex chain
    val base = Tables.documents(s, d).select(col("doc_id"), norm(col("text")).as("n"))
      .select(col("doc_id"), col("n"), split(col("n"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        length(col("n")).cast("bigint").as("n_chars_norm"),
        length(regexp_replace(col("n"), "[^a-z]", "")).as("alpha"),
        length(regexp_replace(col("n"), "[^.,;:!?'\"()-]", "")).as("punct"),
        stopCount(col("toks"), "en").as("stops"))
    // greatest(n,1): an empty/whitespace-only document has zero normalized
    // chars, and ANSI mode turns the ratio into a DIVIDE_BY_ZERO abort of
    // the whole corpus — such docs score 0 instead (n_tokens is always >=1)
    val nc = greatest(col("n_chars_norm"), lit(1L))
    val out = base.select(
      col("doc_id"),
      col("n_tokens"),
      col("n_chars_norm"),
      Det.rnd(col("alpha") * lit(1.0) / nc, 4).as("alpha_ratio"),
      Det.rnd(col("punct") * lit(1.0) / nc, 4).as("punct_ratio"),
      Det.rnd(col("stops") * lit(1.0) / col("n_tokens"), 4).as("stopword_ratio"),
      Det.rnd(
        least(col("n_tokens") * lit(1.0) / 100, lit(1.0)) * 0.5
          + (col("alpha") * lit(1.0) / nc) * 0.3
          + least(col("stops") * lit(10.0) / col("n_tokens"), lit(1.0)) * 0.2, 4)
        .as("quality_score"))
    Det.ordered(out)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (alphanumeric runs + single non-space symbols), plus a chars-per-token
    * ratio useful for compression heuristics.
    */
  def tokenCounts(s: SparkSession, d: String): DataFrame = {
    val out = Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]")).cast("bigint").as("re_tokens"),
      length(col("text")).cast("bigint").as("n_chars"),
      Det.rnd(length(col("text")) * lit(1.0) / size(tokens(col("text"))), 4).as("chars_per_token"))
    Det.ordered(out)
  }

  /** Tokenizer-fertility report by predicted language — the mix-budget
    * diagnostic a training pipeline runs before committing to a tokenizer
    * and sampling weights: per language, tokens-per-word (fertility — how
    * many BPE-ish tokens the tokenizer spends per whitespace word) and
    * bytes-per-token (compression). A language whose fertility runs high
    * consumes context-window budget faster than its byte share suggests,
    * which skews any byte-denominated mix toward it. One scan + one
    * aggregation shuffle on the (tiny-cardinality) language key — grouped
    * by the corpus's ground-truth `lang` label (the production input is a
    * labeled corpus post-langid). Deliberately a DIFFERENT token notion
    * than [[tokenCounts]]'s regex count: fertility is about subword spend
    * per word, so it uses the ceil(len/4) piece proxy below — the two
    * reports answer different questions and are expected to differ.
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    // subword proxy: ceil(len/4) pieces per word — the fixed-width stand-in
    // for what a small BPE spends on unseen words, so fertility reflects
    // each language's word-LENGTH distribution (exact integer arithmetic,
    // no tokenizer model needed)
    val subCount = aggregate(
      transform(tokens(col("text")), t => floor((length(t) + lit(3)) / lit(4))),
      lit(0L), (acc, x) => acc + x.cast("bigint"))
    val per = Tables.documents(s, d).select(
        col("lang"),
        size(tokens(col("text"))).cast("bigint").as("ws"),
        subCount.cast("bigint").as("sub"),
        octet_length(col("text")).cast("bigint").as("bytes"))
    val out = per.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_words"),
        sum(col("sub")).as("n_tokens"),
        sum(col("bytes")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_bytes"),
        Det.rnd(col("n_tokens") * lit(1.0) / col("n_words"), 4).as("fertility"),
        Det.rnd(col("n_bytes") * lit(1.0) / col("n_tokens"), 4).as("bytes_per_token"))
    Det.ordered(out)
  }

  /** Mixture reweighting (the bookkeeping half of DoReMi-style domain
    * balancing): per source, its token share of the corpus and the sampling
    * weight that would equalize the mixture (uniform target share over the
    * observed sources). Upweight = weight > 1, downsample = weight < 1 —
    * the per-domain multiplier a sampler applies when materializing the
    * training mix. One aggregation shuffle; the corpus total rides along as
    * an in-plan broadcast scalar.
    */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("bigint").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.select(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val out = per.crossJoin(tot).select(
      col("source"), col("n_docs"), col("n_tokens"),
      Det.rnd(col("n_tokens") / col("total_tokens"), 6).as("token_share"),
      // target uniform share 1/n_sources; weight = target / actual
      Det.rnd(col("total_tokens") / (col("n_sources") * col("n_tokens")), 6)
        .as("mix_weight"))
    Det.ordered(out)
  }

  /** Fixed-token-window document chunking with overlap — the standard prep
    * step before embedding / packing: chunk i covers tokens
    * [i*step, i*step+width) (1-based slice), so consecutive chunks overlap by
    * width-step tokens and trailing chunks may run short. Pure per-row
    * expression work (sequence + slice, no shuffle at all) — at 100 TB this
    * is a map-only stage that pipelines into whatever consumes the chunks.
    */
  def docChunks(s: SparkSession, d: String, width: Int = 16, step: Int = 12): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("nt"))
    val out = t
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), expr(s"(nt + ${step - 1}) div $step") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * step + 1, lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("bigint").as("chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
    Det.ordered(out)
  }

  /** Vocabulary growth curve (Heaps' law view): the corpus split into
    * `nBuckets` doc-id ranges in ingestion order; per bucket the number of
    * NEVER-BEFORE-SEEN token types and the cumulative vocabulary. A flat
    * tail means new data stopped contributing novelty — the
    * diminishing-returns signal corpus curation watches. One explode +
    * first-seen min per token; the cumulative counts come from a triangular
    * join against the 10-row bucket list, never a global sort.
    */
  def vocabGrowth(s: SparkSession, d: String, nBuckets: Int = 10): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val maxd = docs.select((max(col("doc_id")) + 1).as("maxd"))
    val withB = docs.crossJoin(maxd)
      .select(col("doc_id"), col("toks"),
        expr(s"(doc_id * $nBuckets) div maxd").as("bucket"))
    val nd = withB.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val firstSeen = withB.select(col("bucket"), explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(min(col("bucket")).as("fb"))
    val newT = firstSeen.groupBy(col("fb")).agg(count(lit(1)).as("new_types"))
    val cum = nd.select(col("bucket"))
      .join(firstSeen, col("fb") <= col("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cum_types"))
    val out = nd
      .join(newT, nd("bucket") === newT("fb"), "left")
      .join(cum, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("cum_types"), lit(0L)).as("cum_types"))
    Det.ordered(out)
  }

  /** Flesch-style readability proxy: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllable-groups/words), with sentence count from terminal
    * punctuation (min 1) and vowel runs as the syllable proxy — the
    * classic cheap fluency gate, engine-exact because every input is an
    * integer count.
    */
  def readability(s: SparkSession, d: String): DataFrame = {
    val words = size(tokens(col("text"))).cast("bigint")
    val sents = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1)).cast("bigint")
    val syll = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("bigint")
    val out = Tables.documents(s, d).select(
      col("doc_id"),
      words.as("n_words"), sents.as("n_sentences"), syll.as("n_syllables"),
      Det.rnd(lit(206.835) - lit(1.015) * (words / sents) - lit(84.6) * (syll / words), 4)
        .as("flesch_score"))
    Det.ordered(out)
  }

  /** Boilerplate detection over [[docChunks]] windows: a chunk appearing in
    * >= minDf DISTINCT documents is boilerplate (shared headers/footers/
    * templates — the C4-style "remove lines repeated across pages" rule at
    * chunk granularity); each doc reports its boilerplate fraction. Two
    * shuffles: chunk-hash document frequencies, then the per-doc rollup.
    */
  def boilerplate(s: SparkSession, d: String, minDf: Int = 5): DataFrame = {
    val chunks = docChunks(s, d)
    val df = chunks.select(col("doc_id"), col("chunk_hash")).distinct()
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("chunk_df"))
    val out = chunks.join(df, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        Det.rnd(sum(when(col("chunk_df") >= minDf, 1L).otherwise(0L)) / count(lit(1)), 4)
          .as("boiler_ratio"))
    Det.ordered(out)
  }

  /** Adjacent-token pair frequencies — the counting step of one BPE merge
    * round (the most frequent pair is the next merge). Total occurrences,
    * not document frequencies (contrast [[bigramStats]]): tokenizer training
    * weights by corpus mass. One explode + one count shuffle; the global
    * top-N is a TakeOrdered, never a full sort.
    */
  def bpePairs(s: SparkSession, d: String, topN: Int = 20): DataFrame = {
    val toks = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
    val pairs = toks.where(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(1, size(toks)-1), " +
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-document token-distribution Shannon entropy (nats) — low entropy
    * flags repetitive/templated text (the information-theoretic cousin of
    * [[repetition]]'s count rules). Each term (c/n)·ln(n/c) is rounded to an
    * exact 8-dp decimal before summation so the per-doc entropy is
    * association-order independent — same contract as [[lmScore]]'s
    * probability sums. Two shuffles: (doc, token) counts, then per-doc sum.
    */
  def entropy(s: SparkSession, d: String): DataFrame = {
    val c = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val stats = c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    val out = c.join(stats, "doc_id")
      .select(col("doc_id"), col("n"), col("n_types"),
        Det.rnd((col("c") / col("n")) * log(col("n") / col("c")), 8)
          .cast("decimal(12,8)").as("term"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), max(col("n_types")).as("n_types_"),
        Det.rnd(sum(col("term")).cast("double"), 6).as("entropy"))
      .withColumnRenamed("n_types_", "n_types")
    Det.ordered(out)
  }

  /** Corpus n-gram statistics: global bigram frequencies with document
    * frequency — the raw material for contamination analysis, LM frequency
    * filters, and vocabulary work. One explode + one shuffle; top-N kept
    * with a deterministic total order.
    */
  def bigramStats(s: SparkSession, d: String, topN: Int = 100): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = docs
      .select(col("doc_id"), explode(shinglesOf(col("toks"), 2)).as("bigram"))
    grams.groupBy(col("bigram"))
      .agg(count(lit(1)).as("doc_freq")) // distinct per doc by construction
      .orderBy(col("doc_freq").desc, col("bigram"))
      .limit(topN)
  }

  /** Benchmark decontamination: flag corpus documents sharing any 8-token
    * shingle with a benchmark set (here: doc_id < 10 plays the benchmark).
    * The standard eval-leakage sweep — at 100 TB the benchmark shingles are
    * a broadcast bloom/set and this is a semi-join against the scan.
    */
  /** Memoized (doc_id, sh) 8-shingle rows — the decontamination index's
    * shingle stream (r19): [[decontaminate]] referenced the tokenize+
    * shingle pipeline twice per call, [[ngramCoverage]] three times and
    * corpus_yield's contamination stage twice more — one stored artifact
    * (the benchmark-overlap index every curation run keeps) replaces seven
    * corpus passes per bench round. Hash-partitioned on doc_id so the
    * per-doc coverage aggregates reuse the layout.
    */
  private[graft] def shingle8Rows(s: SparkSession, d: String, k: Int = 8): DataFrame =
    Artifact.build(s, s"text.sh8|$d|$k", Layout.Hashed(4, "doc_id"))(
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(shinglesOf(col("toks"), k)).as("sh")))

  def decontaminate(s: SparkSession, d: String, benchmarkMaxId: Long = 10L): DataFrame = {
    val sh = shingle8Rows(s, d)
    val bench = sh.where(col("doc_id") < benchmarkMaxId)
      .select(col("sh").as("bench_sh"), col("doc_id").as("bench_id"))
    val out = sh.where(col("doc_id") >= benchmarkMaxId)
      .join(broadcast(bench), col("sh") === col("bench_sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_benchmark_docs"),
        count(lit(1)).as("n_shared_shingles"))
    Det.ordered(out)
  }

  /** Benchmark n-gram coverage: for every candidate document, the fraction
    * of its distinct 8-shingles that appear anywhere in the benchmark set —
    * [[decontaminate]]'s graded sibling (that query lists contaminated docs;
    * this one scores ALL docs, 0.0 when clean, so a pipeline can threshold
    * instead of hard-dropping). Benchmark shingles broadcast; docs shorter
    * than k tokens have no shingles and no row.
    */
  def ngramCoverage(s: SparkSession, d: String, benchmarkMaxId: Long = 10L,
                    k: Int = 8): DataFrame = {
    val sh = shingle8Rows(s, d, k)
    val bench = sh.where(col("doc_id") < benchmarkMaxId)
      .select(col("sh").as("bench_sh")).distinct()
    val cand = sh.where(col("doc_id") >= benchmarkMaxId)
    val tot = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val cov = cand.join(broadcast(bench), col("sh") === col("bench_sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    val out = tot.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        Det.rnd(coalesce(col("n_covered"), lit(0L)) * lit(1.0) / col("n_shingles"), 4)
          .as("coverage"))
    Det.ordered(out)
  }

  /** PII scrubbing: detect and redact email addresses and phone numbers,
    * returning per-document match counts and the redacted fingerprint. The
    * corpus is synthetic (no real PII), so a deterministic contact line is
    * appended per document first — the operator under test is the regex
    * detect/redact pass, which runs at scan speed (codegen'd regexps).
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]+"
    val aug = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"), col("doc_id").cast("string"), lit(" now"))
    val base = Tables.documents(s, d).select(col("doc_id"), aug.as("t"))
    val out = base.select(
      col("doc_id"),
      regexp_count(col("t"), lit(emailRe)).cast("bigint").as("n_emails"),
      regexp_count(col("t"), lit(phoneRe)).cast("bigint").as("n_phones"),
      md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>")).as("redacted_fp"))
    Det.ordered(out)
  }

  /** Repetition signals (Gopher-style quality rules): duplicate-token mass
    * and most-frequent-token share per document — high values flag boilerplate
    * and degenerate generations. One explode + per-(doc, token) count.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val tokCounts = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val out = tokCounts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        Det.rnd(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_tokens"), 4).as("dup_ratio"),
        Det.rnd(col("top_freq") * lit(1.0) / col("n_tokens"), 4).as("top_token_ratio"))
    Det.ordered(out)
  }

  /** TF–IDF top terms per document: term frequency × ln(N/df), document
    * frequencies over the WHOLE corpus, top-k per doc ranked on the rounded
    * score with deterministic ties. Two shuffles (doc-term, term) and a
    * broadcast of the tiny df/N side — the global statistics pattern that
    * also serves vocabulary building at 100 TB.
    */
  def tfidf(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tf").desc, col("tok"))
    val out = scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k && col("doc_id") < 100)
    Det.ordered(out)
  }

  /** Bigram language-model scoring: corpus transition probabilities
    * p(w2|w1) = c(w1,w2)/c(w1·), then each document's mean transition
    * probability — a perplexity-style fluency proxy (low score ⇒ improbable
    * token sequences ⇒ noisy/degenerate text). Probabilities are rounded and
    * summed as exact decimals so the mean is association-order independent.
    * Scale shape: one bigram shuffle for the counts, then a (w1,w2) join —
    * the same plan a corpus-LM training-statistics pass runs.
    */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    // r18 (guide §2.3): the memoized bigram table replaces THREE tokenize +
    // bigram-explode passes with one stored-artifact build; r19: the
    // transition-probability table itself is the memoized trained LM (the
    // LLR-table precedent), so the per-call work is ONE probe join + the
    // per-doc aggregate — the scoring pass a deployed LM actually runs.
    val big = bigramTable(s, d)
    val out = big.join(lmProbsTable(s, d), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Det.rnd(sum(col("p")).cast("double") / count(lit(1)), 6).as("avg_p"))
    Det.ordered(out)
  }

  /** Memoized bigram transition probabilities p(w2|w1) — the trained LM's
    * parameter table, derived once from [[bigramTable]]: c(w1·) = Σ_w2
    * c(w1,w2) exactly (r18), and the rounded ratio is the same decimal
    * whether built per call or loaded from the memo (r19).
    */
  private def lmProbsTable(s: SparkSession, d: String): DataFrame =
    Artifact.build(s, s"text.lmprobs|$d", Layout.KeepHash) {
      val cb2 = bigramTable(s, d)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val cb1 = cb2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      cb2.join(cb1, "w1")
        .select(col("w1"), col("w2"),
          Det.rnd(col("c2") * lit(1.0) / col("c1"), 8).cast("decimal(12,8)").as("p"))
    }

  /** Memoized (doc_id, w1, w2) bigram rows — the corpus LM's training
    * stream; [[lmScore]] probes it per call (and [[ccnetBuckets]] through
    * lmScore) and [[lmProbsTable]] trains from it once. */
  private def bigramTable(s: SparkSession, d: String): DataFrame =
    // hash-partitioned on w1: the pair-count training aggregate
    // ({w1} ⊆ {w1,w2}), the context-count aggregate and lmScore's probe
    // join against the (w1-partitioned) probability table all reuse the
    // layout; only the per-doc aggregate still exchanges
    Artifact.build(s, s"text.bigrams|$d", Layout.Hashed(4, "w1"))(
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(expr("transform(sequence(1, size(toks)-1), " +
            "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))

  /** Heavy-hitter tokens via the Misra–Gries sketch
    * ([[graft.functions.HeavyHitters]]): bounded-memory approximate top
    * tokens, one row per surviving counter. Estimates are order-dependent ⇒
    * rows-only; the frequency guarantee is asserted in ScalaTest.
    */
  def heavyHitters(s: SparkSession, d: String, capacity: Int = 20): DataFrame = {
    val hh = udaf(new graft.functions.HeavyHitters(capacity),
      org.apache.spark.sql.Encoders.STRING)
    val out = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .agg(hh(col("tok")).as("hitters"))
      .select(explode(col("hitters")).as("e"))
      .select(col("e.item").as("item"), col("e.approx_count").as("approx_count"))
    Det.ordered(out)
  }

  /** One-row corpus profile: document count, token mass, vocabulary size,
    * mean document length — the summary a pipeline logs after every stage.
    */
  def corpusStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    tok.agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("vocab_size"))
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        Det.rnd(col("total_tokens") * lit(1.0) / col("n_docs"), 4).as("avg_doc_tokens"))
  }

  /** Document fingerprints: exact content hash of the normalized text plus
    * an order-independent bag fingerprint (hash of the sorted distinct token
    * set) — the rolling-hash family's cheap deterministic cousin.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val out = Tables.documents(s, d).select(
      col("doc_id"),
      md5(norm(col("text"))).as("content_fp"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("bag_fp"))
    Det.ordered(out)
  }

  /** Gopher-rule quality filter (Rae et al. 2021, appendix A1.1): the
    * repetition-independent document rules — word-count bounds, mean word
    * length bounds, symbol-to-word ratio (# and ellipsis), alphabetic-word
    * fraction, and the ≥2-required-stopwords check — each surfaced as its
    * own signal plus the conjunctive keep flag. Pure column expressions over
    * one materialized token array (scan-speed, no shuffle at all: this is a
    * map-only operator at any scale). `minStops` keeps Gopher's ≥2 default;
    * corpora with narrow synthetic vocabularies tune it down rather than
    * editing the published required-word list.
    */
  def gopherQuality(s: SparkSession, d: String, minStops: Int = 2): DataFrame = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        size(col("toks")).cast("bigint").as("n_words"))
    val scored = base.select(
      col("doc_id"),
      col("n_words"),
      Det.rnd(aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
        * lit(1.0) / col("n_words"), 4).as("mean_word_len"),
      Det.rnd((regexp_count(col("text"), lit("#")) +
        regexp_count(col("text"), lit("\\.\\.\\."))) * lit(1.0) / col("n_words"), 4)
        .as("symbol_ratio"),
      Det.rnd(size(filter(col("toks"), t => t.rlike("[a-z]"))) * lit(1.0)
        / col("n_words"), 4).as("alpha_word_ratio"),
      size(filter(typedLit(required), r => array_contains(col("toks"), r)))
        .cast("bigint").as("n_required_stops"))
    val out = scored.withColumn("keep",
      (col("n_words") >= 30 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 &&
        col("alpha_word_ratio") > 0.8 &&
        col("n_required_stops") >= minStops).cast("bigint"))
    Det.ordered(out)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): hash every character k-gram of the normalized text, then in
    * each sliding window of w consecutive grams keep the minimum hash — the
    * guarantee is any shared substring of length ≥ w+k-1 yields a shared
    * fingerprint, at ~2/(w+1) the density of full k-gram sets. Hashes are
    * md5 hex (bytewise string order is identical cross-engine, so window
    * minima agree). Per doc: fingerprint count, distinct count, and a digest
    * of the sorted fingerprint set. The gram explode is map-side; the only
    * shuffle is the per-doc aggregate, and the window min runs inside the
    * doc partition — selectivity (≈ n_grams/w fingerprints) is what a 100 TB
    * near-dup index stores instead of every shingle.
    */
  def winnowing(s: SparkSession, d: String, k: Int = 8, w: Int = 6): DataFrame = {
    val out = winnowingFingerprints(s, d, k, w).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        md5(concat_ws(",", array_sort(collect_list(col("wmin"))))).as("fp_digest"))
    Det.ordered(out)
  }

  /** The selected (doc_id, fingerprint) rows behind [[winnowing]] — exposed
    * so pair detection reuses the exact production selection. Memoized per
    * (session, sfDir, k, w) like the shingle/band/simhash tables: the
    * fingerprint index is a materialized artifact every consumer probes
    * ([[winnowing]]'s digest and [[winnowingPairs]]' join share one build),
    * not a per-query recomputation of the ~n_chars md5 + window-min
    * pipeline.
    */
  def winnowingFingerprints(s: SparkSession, d: String, k: Int = 8, w: Int = 6): DataFrame =
    Artifact.build(s, s"text.winnowing|$d|$k|$w")(
      winnowingFingerprintsOf(
        Tables.documents(s, d).select(col("doc_id"), col("text")), k, w))

  /** [[winnowingFingerprints]] over any (doc_id, text) set — exposed so
    * scale experiments reuse the exact production selection.
    */
  def winnowingFingerprintsOf(docsIn: DataFrame, k: Int = 8, w: Int = 6): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), norm(col("text")).as("n"))
      .select(col("doc_id"), col("n"), length(col("n")).as("len"))
    val grams = docs
      .where(col("len") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("len") - k),
          i => md5(col("n").substr(i + 1, lit(k))))).as(Seq("pos", "h")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("wmin", min(col("h")).over(win))
      .where(col("pos") >= w - 1)
      .select(col("doc_id"), col("wmin")).distinct()
  }

  /** BPE merge-rule training (Sennrich et al., ACL '16): `nMerges` greedy
    * rounds of find-the-most-frequent-adjacent-pair → merge it corpus-wide,
    * emitting the learned merge table (round, lhs, rhs, pair_count) — the
    * tokenizer-training loop as a distributed job. Two granularities off
    * one plan: WORD units (`chars = false` — learning multi-word units
    * keeps the verify-SF oracle small), or the character-level CLASSIC
    * (`chars = true`): each word explodes into space-separated characters
    * and words are separated by a DOUBLE space, whose empty split-token
    * the pair filter already drops — so pairs (and merges) never cross a
    * word boundary, exactly Sennrich's within-word merge rule.
    * Per round: one pair-count shuffle + a TakeOrdered argmax
    * (count desc, pair asc — deterministic) + a map-only rewrite, with the
    * corpus as a space-delimited token string and the merge as a
    * left-to-right non-overlapping ` lhs rhs ` → ` lhs␁rhs ` replace —
    * IDENTICAL semantics in Spark and DuckDB, so the oracle replays all
    * rounds as unrolled CTEs (the pagerank/codebook training contract).
    * Each round's corpus is localCheckpoint'd: the plan stays flat instead
    * of growing by one join+replace per round.
    */
  def bpeMergeTrain(s: SparkSession, d: String, nMerges: Int = 6,
                    chars: Boolean = false): DataFrame = {
    val out = bpeArtifacts(s, d, nMerges, chars)._1
      .select(col("round"), col("l").as("lhs"), col("r").as("rhs"),
        col("c").as("pair_count"))
    Det.ordered(out)
  }

  /** The (merge table, final encoded corpus) training artifacts, memoized
    * per (corpus, nMerges, chars) — a tokenizer is trained ONCE and then
    * applied everywhere, and the final round's corpus IS the encoded form
    * [[bpeEncode]] reports on. Whichever artifact is requested first runs
    * the rounds and stashes both.
    */
  private def bpeArtifacts(s: SparkSession, d: String, nMerges: Int,
                           chars: Boolean): (DataFrame, DataFrame) = {
    lazy val trained = bpeTrainRounds(s, d, nMerges, chars)
    val table = Artifact.build(s, s"text.bpe.table|$d|$nMerges|$chars")(trained._1)
    val corpus = Artifact.build(s, s"text.bpe.corpus|$d|$nMerges|$chars")(trained._2)
    (table, corpus)
  }

  private def bpeTrainRounds(s: SparkSession, d: String, nMerges: Int,
                             chars: Boolean): (DataFrame, DataFrame) = {
    val J = "\u0001" // merge joiner: marks learned units, never collides with the space split
    val corpus =
      if (chars)
        // "ab cd" -> " a b  c d ": chars spaced within a word, words held
        // apart by the double space (splits to an empty token the pair
        // filter drops), so merges never cross a word boundary
        concat(lit(" "), array_join(transform(tokens(col("text")),
          w => trim(regexp_replace(w, "(.)", "$1 "))), "  "), lit(" "))
      else concat(lit(" "), array_join(tokens(col("text")), " "), lit(" "))
    var docs = Tables.documents(s, d)
      .select(col("doc_id"), corpus.as("str"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 0 until nMerges) {
      val pairs = docs
        .select(split(col("str"), " ").as("toks"))
        .select(explode(expr("transform(sequence(1, size(toks)-1), " +
          "i -> struct(element_at(toks, i) AS l, element_at(toks, i+1) AS r))")).as("bg"))
        .select(col("bg.l").as("l"), col("bg.r").as("r"))
        .where(col("l") =!= "" && col("r") =!= "") // edge delimiters
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
      val best = pairs.orderBy(col("c").desc, col("l"), col("r")).limit(1)
        .select(lit(r.toLong).as("round"), col("l"), col("r"), col("c"))
        .localCheckpoint(true) // materialize the argmax once per round
      merges += best
      docs = docs.crossJoin(broadcast(best.select(col("l").as("bl"), col("r").as("br"))))
        .select(col("doc_id"), replace(col("str"),
          concat(lit(" "), col("bl"), lit(" "), col("br"), lit(" ")),
          concat(lit(" "), col("bl"), lit(J), col("br"), lit(" "))).as("str"))
        .localCheckpoint(true)
    }
    (merges.reduce(_ union _).localCheckpoint(true), docs)
  }

  /** The APPLY half of the tokenizer story: per-document encoding stats
    * after the learned merge table ([[bpeMergeTrain]]) has rewritten the
    * corpus — encoded unit count and how many units are MERGED (contain
    * the learned joiner). Map-only over the memoized final training
    * corpus: the rules were already applied during the rounds, so encode
    * is a split + two filters, no joins.
    */
  def bpeEncode(s: SparkSession, d: String, nMerges: Int = 6,
                chars: Boolean = false): DataFrame = {
    val corpus = bpeArtifacts(s, d, nMerges, chars)._2
    val units = filter(split(col("str"), " "), t => t =!= "")
    val out = corpus
      .select(col("doc_id"), units.as("units"))
      .select(col("doc_id"),
        size(col("units")).cast("bigint").as("n_units"),
        size(filter(col("units"), u => u.contains(lit("\u0001"))))
          .cast("bigint").as("n_merged"))
    Det.ordered(out)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al., NeurIPS '23): per-document log importance
    * Σ_tokens [log p̂_target(bucket) − log p̂_raw(bucket)] over hashed
    * unigram buckets — the data-selection logit that upweights documents
    * resembling a high-quality target distribution. Target here = the
    * corpus's English slice (the ground-truth `lang` column as the target
    * stand-in); raw = the whole corpus. Tokens hash into 256 md5 buckets
    * (DSIR's hashing trick — collisions are part of the estimator);
    * bucket probabilities are Laplace-smoothed, each bucket's log-ratio is
    * a single log of an exactly-computed integer rational rounded to 8 dp
    * (the [[entropy]] log discipline, so the oracle replays it), and
    * per-doc sums are exact decimals. Two aggregates + one broadcast
    * 256-row join — nothing pairwise, scan-dominated at any corpus size.
    */
  /** Memoized per-(doc, bucket) hashed-token counts — the DSIR feature
    * table (Xie et al. '23: hashed-bucket counts are THE stored corpus
    * representation both the raw/target estimators and every per-document
    * score read; a deployment materializes it once per corpus next to its
    * other curation artifacts). `n` is an exact integer count, so every
    * downstream sum over it is the same value the raw token stream
    * produces; lang/source ride along (functionally dependent on doc_id)
    * so neither consumer re-scans documents (r19, VERDICT r18 #3).
    */
  private def dsirBuckets(s: SparkSession, d: String): DataFrame =
    // hash-partitioned on doc_id: both consumers' per-doc aggregates
    // reuse the layout (doc_id ⊆ their grouping keys) — no exchange in
    // either timed path; the 256-row estimator aggregate re-keys by
    // bucket but over width/4 map tasks
    Artifact.build(s, s"text.dsir|$d", Layout.Hashed(4, "doc_id"))(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"), col("source"),
          conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int").as("b"))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("b"))
        .agg(count(lit(1)).as("n")))

  /** The 256-row trained log-ratio table over [[dsirBuckets]] — DSIR's
    * importance estimator itself. Tiny; derived per call (two aggregates
    * over the memoized bucket table), shared by weights and sample.
    */
  private def dsirLr(s: SparkSession, d: String): DataFrame = {
    val nBuckets = 256 // fixed by the 2-hex-char md5 bucket below
    // raw count = Σn over bucket rows; target count = Σn over en rows — the
    // same integers the per-token conditional aggregation produced (r18)
    val byB = dsirBuckets(s, d).groupBy(col("b")).agg(
      sum(col("n")).as("cnt_r"),
      sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("cnt_t"))
    val tots = byB.agg(sum(col("cnt_r")).as("n_r"), sum(col("cnt_t")).as("n_t"))
    byB
      .crossJoin(broadcast(tots))
      .select(col("b"),
        Det.rnd(log(
          ((col("cnt_t") + 1) * (col("n_r") + nBuckets)).cast("double") /
          ((col("cnt_r") + 1) * (col("n_t") + nBuckets))), 8)
          .cast("decimal(12,8)").as("lr"))
  }

  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // r19: both passes run over the memoized bucket-count artifact. Per-doc
    // sums are Σ n·lr — n exact copies of an exact decimal, identical to the
    // per-token Σ lr (decimal sums are association-order independent), and
    // n_tokens = Σn is the same count(1) the token stream produced.
    val out = dsirBuckets(s, d).join(broadcast(dsirLr(s, d)), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        Det.rnd(sum(col("n") * col("lr")).cast("double"), 6).as("dsir_logw"))
    Det.ordered(out)
  }

  /** The importance-resampling DRAW that [[dsirWeights]] exists for (Xie
    * et al. 2023 §2.3: sample the raw corpus with probability ∝ the
    * importance weight): per source, k documents drawn by the systematic
    * PPS rule ([[graft.operators.Analytics.samplePps]]) with weight
    * w = exp(clip(dsir_logw, ±10)) — the clip is DSIR's standard guard
    * against a few extreme log-ratios owning the whole draw (and keeps
    * exp inside exact-decimal range at any corpus). The weight is 6-dp
    * rounded into a decimal BEFORE the cumulative axis, so the draw
    * replays bit-exactly cross-engine; heavy docs (w > W/k) draw with
    * multiplicity, the with-replacement semantics importance resampling
    * wants. One group-key shuffle + one window pass on top of the weights
    * aggregate.
    */
  def dsirSample(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    // r19: the per-doc logw and the source column both come from the
    // memoized bucket table in ONE aggregation (source is functionally
    // dependent on doc_id, so grouping by both ≡ grouping by doc_id, and
    // the old inner join against documents kept exactly the docs with ≥1
    // token — the same set that has bucket rows).
    val j = dsirBuckets(s, d).join(broadcast(dsirLr(s, d)), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(Det.rnd(sum(col("n") * col("lr")).cast("double"), 6).as("dsir_logw"))
      .select(col("source"), col("doc_id"),
        Det.rnd(exp(greatest(lit(-10.0), least(lit(10.0), col("dsir_logw")))), 6)
          .cast("decimal(18,6)").as("w"),
        md5(col("doc_id").cast("string")).as("hx"))
    val wOrd = Window.partitionBy(col("source")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    def below(x: Column, tot: Column): Column =
      floor(lit(k) * x.cast("double") / tot.cast("double") + lit(0.5) + lit(1e-9))
    val out = j
      .withColumn("cum", sum(col("w")).over(wOrd))
      .withColumn("tot", sum(col("w")).over(wAll))
      .withColumn("picks",
        (below(col("cum"), col("tot")) - below(col("cum") - col("w"), col("tot")))
          .cast("bigint"))
      .where(col("picks") >= 1)
      .select(col("source"), col("doc_id"),
        col("w").cast("double").as("weight"), col("picks"))
    Det.ordered(out)
  }

  /** License/compliance filter: detect license-notice boilerplate (the
    * copyleft / all-rights-reserved / CC families) and classify each doc
    * permissive / restricted / unknown — the compliance gate code+text
    * corpora run before training. The corpus is synthetic, so a
    * deterministic license line is appended to every third doc first
    * (the operator under test is the codegen'd regex classify pass). Map
    * only — runs at scan speed at any scale.
    */
  def licenseFilter(s: SparkSession, d: String): DataFrame = {
    val lic = when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0,
          lit(" licensed under the mit license"))
        .otherwise(lit(" all rights reserved. copyright notice")))
      .otherwise(lit(""))
    val aug = concat(col("text"), lic)
    val permissiveRe = "mit license|apache license|bsd license|cc-by|public domain"
    val restrictedRe = "all rights reserved|gpl|proprietary|confidential"
    val base = Tables.documents(s, d).select(col("doc_id"), aug.as("t"))
    val out = base.select(
      col("doc_id"),
      regexp_count(col("t"), lit(permissiveRe)).cast("bigint").as("n_permissive"),
      regexp_count(col("t"), lit(restrictedRe)).cast("bigint").as("n_restricted"))
      .withColumn("license_class",
        when(col("n_restricted") > 0, lit("restricted"))
          .when(col("n_permissive") > 0, lit("permissive"))
          .otherwise(lit("unknown")))
    Det.ordered(out)
  }

  /** URL canonicalization + dedup bookkeeping: normalize each document's
    * source URL (lowercase host, strip scheme / www. / default port /
    * tracking query params / trailing slash / fragment) and report each
    * canonical URL's first doc and duplicate count — the crawl-dedup step
    * that runs BEFORE any content hashing. URLs here are deterministic
    * synthetics over doc_id (four surface variants of the same canonical
    * URL), so the operator under test is the normalization chain itself.
    * One map pass + one hash aggregate on the canonical key.
    */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    // four surface forms per canonical url, cycling by doc_id
    val host = concat(lit("site"), (col("doc_id") % 50).cast("string"), lit(".example.com"))
    val path = concat(lit("/page/"), (col("doc_id") % 200).cast("string"))
    val url = when(col("doc_id") % 4 === 0, concat(lit("https://"), host, path))
      .when(col("doc_id") % 4 === 1, concat(lit("HTTP://WWW."), host, path, lit("/")))
      .when(col("doc_id") % 4 === 2, concat(lit("https://"), host, lit(":443"), path,
        lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(lit("http://"), host, lit(":80"), path, lit("#section-2")))
    val canon =
      regexp_replace( // trailing slash last
        regexp_replace( // tracking params
          regexp_replace( // default ports
            regexp_replace( // scheme + www
              lower(url), "^https?://(www\\.)?", ""),
            ":(80|443)(/|$)", "$2"),
          "[?#].*$", ""),
        "/$", "")
    val canonized = Tables.documents(s, d)
      .select(col("doc_id"), url.as("raw_url"), canon.as("canonical_url"))
    val out = canonized.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_variants"))
    Det.ordered(out)
  }

  /** Temperature-scaled mixture weights (the multilingual-sampling rule:
    * q_i ∝ p_i^τ with τ=0.5): per source, its token share, the tempered
    * share, and the sampling multiplier q_i/p_i that upweights small
    * sources. τ=0.5 makes the power a SQRT (correctly-rounded IEEE, no
    * libm parity risk); shares and tempered shares are rounded to exact
    * decimals before the normalizing sum so it is association-order
    * independent. One aggregation; the normalizer is an in-plan broadcast
    * scalar.
    */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total"))
    val shared = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        Det.rnd(col("n_tokens") * lit(1.0) / col("total"), 8).as("share"))
      .withColumn("r_sqrt", Det.rnd(sqrt(col("share")), 8))
    val z = shared.agg(
      sum(col("r_sqrt").cast("decimal(18,8)")).cast("double").as("z"))
    val out = shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("share"),
        Det.rnd(col("r_sqrt") / col("z"), 6).as("temp_share"),
        Det.rnd(col("r_sqrt") / col("z") / col("share"), 4).as("multiplier"))
    Det.ordered(out)
  }

  /** CCNet-style perplexity bucketing: each document scored by the corpus
    * bigram LM ([[lmScore]]), then split into head/middle/tail terciles
    * WITHIN its language — the standard kept/maybe/dropped partition a
    * web-scale pipeline applies before mixing (CCNet, Wenzek et al. 2020,
    * buckets by per-language perplexity so low-resource languages aren't
    * judged against English fluency). Ties break on doc_id so the tercile
    * assignment is total-order deterministic. Scale: the LM statistics are
    * the memo-shaped training pass [[lmScore]] already runs; the bucketing
    * itself is one per-language window — and language cardinality is tiny,
    * so the partition-by-lang window is balanced, never a global sort.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_p").desc, col("doc_id"))
    val out = lmScore(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_p"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
    Det.ordered(out)
  }

  /** Epoch allocation under a token budget: every source should contribute
    * the uniform target share ([[mixWeights]]' convention) of `budget`
    * tokens, so its epoch count is target/n_tokens — capped at `maxEpochs`
    * (repeating a small source beyond ~4 epochs degrades, the standard
    * data-constrained-scaling rule), with the shortfall reported. The
    * planned token count is what the sampler actually draws. Pure
    * arithmetic on the per-source aggregate — one shuffle at any scale.
    */
  def mixEpochs(s: SparkSession, d: String, budget: Long = 2000000L,
                maxEpochs: Double = 4.0): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val n = per.agg(count(lit(1)).as("n_sources"))
    val out = per.crossJoin(broadcast(n))
      .select(col("source"), col("n_tokens"),
        floor(lit(budget) / col("n_sources")).cast("bigint").as("target_tokens"),
        Det.rnd(lit(budget) * lit(1.0) / (col("n_sources") * col("n_tokens")), 4)
          .as("epochs_raw"))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        col("epochs_raw"),
        Det.rnd(least(col("epochs_raw"), lit(maxEpochs)), 4).as("epochs"),
        round(least(col("epochs_raw"), lit(maxEpochs)) * col("n_tokens"))
          .cast("bigint").as("planned_tokens"),
        when(col("epochs_raw") > maxEpochs, 1L).otherwise(0L).as("capped"))
    Det.ordered(out)
  }

  /** Winnowing-based near-duplicate pairs (the MOSS report): documents
    * sharing ≥ `minShared` selected fingerprints, with the shared count and
    * each side's overlap fraction. The inverted-index join runs on the
    * winnowed ~2/(w+1)-density fingerprint set rather than all k-grams, and
    * fingerprints shared by more than `maxDf` documents are dropped first —
    * the same principled boilerplate cap as `dedup_containment_capped`
    * (an over-shared fingerprint IS boilerplate), which bounds per-key join
    * width at 100 TB.
    */
  def winnowingPairs(s: SparkSession, d: String, k: Int = 8, w: Int = 6,
                     minShared: Int = 5, maxDf: Int = 20): DataFrame =
    // the fingerprint table arrives memoized+materialized, and the df-capped
    // survivor set is itself an index artifact — memoized per
    // (corpus, k, w, maxDf), so repeat queries pay only the pair join
    winnowingPairsOn(
      Artifact.build(s, s"text.winnowing.kept|$d|$k|$w|$maxDf")(
        keptFingerprints(winnowingFingerprints(s, d, k, w), maxDf)),
      minShared, maxDf, preCapped = true)

  /** [[winnowingPairs]] over a precomputed fingerprint set. */
  def winnowingPairsOn(fp0: DataFrame, minShared: Int = 5, maxDf: Int = 20,
                       preCapped: Boolean = false): DataFrame = {
    // the gram -> window-min pipeline feeds the df count, the size table and
    // both sides of the pair join — materialize it once instead of 4
    // recomputes. localCheckpoint, not cache(): these frames live only
    // inside the returned plan, so a CacheManager entry would outlive the
    // query (ADVICE r5); checkpoint blocks free themselves on GC.
    val kept =
      if (preCapped) fp0 // already the memoized, materialized df-capped set
      else keptFingerprints(fp0.localCheckpoint(true), maxDf).localCheckpoint(true)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = kept.as("a").join(kept.as("b"),
        col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val out = shared
      .join(sizes.select(col("doc_id").as("a_id"), col("n_fp").as("a_fp")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_fp").as("b_fp")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"),
        Det.rnd(col("n_shared") * lit(1.0) / col("a_fp"), 4).as("a_overlap"),
        Det.rnd(col("n_shared") * lit(1.0) / col("b_fp"), 4).as("b_overlap"))
    Det.ordered(out)
  }

  /** The df-cap survivor set behind [[winnowingPairs]]: fingerprint rows
    * whose window-min hash is shared by at most `maxDf` documents.
    */
  private def keptFingerprints(fp: DataFrame, maxDf: Int): DataFrame = {
    val rare = fp.groupBy(col("wmin")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("wmin"))
    fp.join(rare, "wmin")
  }

  // ---- BM25 ranked retrieval ------------------------------------------------
  //
  // The scoring context the reference's ES backend provides but every graft
  // filter so far ignored: Okapi BM25 with Lucene's idf
  // (ln(1 + (N - df + 0.5)/(df + 0.5)), never negative) and the standard
  // (k1 = 1.2, b = 0.75) length normalization. Per-term contributions are
  // rounded to 6 decimals and summed as exact decimals, the cross-engine
  // determinism discipline every scored operator here follows.
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** The default single ad-hoc query for [[bm25TopK]]. */
  val Bm25Query: Seq[String] = Seq("spark", "join", "vector")

  /** The default query batch for [[bm25Batch]]. */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("vector", "hash"),
    3 -> Seq("filter", "scan", "query"),
    4 -> Seq("window", "batch"),
    5 -> Seq("customer", "stream"))

  /** Prefix-term expansion cap — Lucene's multi-term default
    * (`max_expansions: 50` on ES's match_phrase_prefix / fuzzy
    * expansions): a prefix query expands to at most this many vocabulary
    * terms, taken in lexicographic (binary UTF-8) order so the cut is
    * deterministic and replays identically in the SQL oracle. */
  val MaxExpansions = 50

  /** Trailing-`*` prefix-term syntax (ES `query_string`'s prefix
    * wildcard): `"cl*"` is the prefix `cl`; a bare `"*"` or any other
    * `*` placement stays a literal token (analysis never strips it, so
    * the exact-term path simply won't match — same as ES with wildcards
    * disabled). Returns (exact terms, prefixes with the `*` stripped).
    */
  def splitSearchTerms(terms: Seq[String]): (Seq[String], Seq[String]) = {
    val (pfx, exact) =
      terms.partition(t => t.length > 1 && t.endsWith("*"))
    (exact, pfx.map(_.dropRight(1)))
  }

  /** The ONE expansion rule every search surface shares (direct scan,
    * CDC index, facade): distinct vocabulary terms starting with
    * `prefix`, lexicographically first [[MaxExpansions]]. `vocab` is a
    * single-column `tok` frame of the LIVE corpus's distinct terms —
    * expansion over a stale/dead vocabulary would shift which terms make
    * the cap and silently break the cross-surface rank-identity
    * contract. Driver-sized by the cap.
    */
  def expandPrefix(vocab: DataFrame, prefix: String): Seq[String] =
    vocab.where(col("tok").startsWith(prefix))
      .select(col("tok")).distinct()
      .orderBy(col("tok")).limit(MaxExpansions)
      .collect().map(_.getString(0)).toSeq

  /** [[expandPrefix]] for a whole query in ONE Spark job (review r15: a
    * per-prefix expansion ran one corpus-sized distinct+sort+collect per
    * prefix term on the request hot path): every prefix's matches rank
    * in a per-prefix window and only the first [[MaxExpansions]] of each
    * reach the driver. Per-prefix results are identical to calling
    * [[expandPrefix]] once per prefix.
    */
  def expandPrefixes(vocab: DataFrame, prefixes: Seq[String]): Seq[String] =
    prefixes match {
      case Nil => Nil
      case Seq(p) => expandPrefix(vocab, p)
      case ps =>
        val ranked = vocab
          .select(col("tok"), explode(array(ps.map(p =>
            when(col("tok").startsWith(p), lit(p))
              .otherwise(lit(null).cast("string"))): _*)).as("pfx"))
          .where(col("pfx").isNotNull)
          .distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("pfx")).orderBy(col("tok"))))
          .where(col("rn") <= MaxExpansions)
          .select(col("pfx"), col("tok"))
          .collect()
        ps.flatMap(p => ranked.filter(_.getString(0) == p)
          .map(_.getString(1)).sorted)
    }

  /** BM25 contribution of one query term, in plain double arithmetic both
    * engines replay: idf(df) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    * rounded to 6 decimals and cast to an exact decimal so the final score
    * is an association-order-independent sum.
    */
  private[graft] def bm25Contrib(tf: Column, df: Column, dl: Column,
                                 nDocs: Column, totalTokens: Column): Column = {
    val avgdl = totalTokens.cast("double") / nDocs
    val idf = log(lit(1.0) +
      (nDocs - df + lit(0.5)) / (df + lit(0.5)))
    val norm = lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * dl / avgdl)
    Det.rnd(idf * tf * lit(Bm25K1 + 1.0) / (tf + norm), 6)
      .cast("decimal(18,6)")
  }

  /** BM25 top-k for ONE ad-hoc query, the interactive-search shape: a
    * single corpus scan explodes tokens and partially aggregates per-doc
    * (length + one tf counter per query term — map-side combine leaves one
    * row per document on the wire), the 1-row corpus statistics broadcast
    * back, scoring runs map-side, and the result is a
    * `TakeOrderedAndProject` — no global sort, no per-term shuffle. At
    * 100 TB the only data-sized cost is the scan plus an n_docs-row
    * aggregate; everything downstream of the broadcast is O(matches).
    */
  /** Memoized corpus postings (doc_id, tok, tf) — the stored index form
    * every corpus-keyed BM25 entry point scores from (r18): the per-call
    * tokenize + count used to re-run per query and per bench pass. The
    * frame-parameterized scorers ([[bm25TopKOn]] / [[bm25TopKOnPrefix]])
    * stay scan-based for arbitrary inputs (streaming, series search).
    */
  private def tfTable(s: SparkSession, d: String): DataFrame =
    // hash-partitioned on doc_id: the wide per-doc scoring aggregate
    // (bm25TopK), the doc-length artifact build and the dl-probe joins all
    // reuse the checkpointed layout
    Artifact.build(s, s"text.tf|$d", Layout.Hashed(1, "doc_id"))(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))

  /** Memoized per-document length table dl = Σtf over [[tfTable]] — the
    * stored doc-length array every BM25 index keeps next to its postings
    * (the k1/b normalization reads it per candidate); derived once instead
    * of re-aggregated by every corpus-keyed scorer call (r19). Unspread:
    * per-doc rows with join-probe consumers — the S2a criterion.
    */
  private def dlTable(s: SparkSession, d: String): DataFrame =
    Artifact.build(s, s"text.dl|$d", Layout.KeepHash)(
      tfTable(s, d).groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))

  /** Score a (distinct) term set from the postings table — the from-index
    * twin of [[bm25TopKOn]]'s from-scan aggregation: dl = Σtf and per-term
    * tf sums are the exact counts the scan form produces (the
    * bm25TopKOnPrefix equivalence, pinned wide↔long by Round17Spec), fed
    * into the SAME scoring tails. `dl` is passed in so corpus callers reuse
    * the memoized [[dlTable]] (r19); it must equal the per-doc Σtf of `tf`.
    */
  private def bm25FromTf(tf: DataFrame, dl: => DataFrame, query: Seq[String],
                         k: Int): DataFrame =
    if (query.size > WideQueryMax)
      bm25ScoreLong(tf, dl, query, k)
    else {
      val perDoc = tf.groupBy(col("doc_id")).agg(
        sum(col("tf")).as("dl"),
        query.zipWithIndex.map { case (t, i) =>
          sum(when(col("tok") === t, col("tf")).otherwise(0L)).as(s"tf$i")
        }: _*)
      bm25ScorePerDoc(perDoc, query, k)
    }

  def bm25TopK(s: SparkSession, d: String,
               query: Seq[String] = Bm25Query, k: Int = 20): DataFrame =
    bm25FromTf(tfTable(s, d), dlTable(s, d), query.distinct, k)

  /** [[bm25TopKOnPrefix]] for the corpus — expansion and scoring probe the
    * memoized postings instead of re-tokenizing per call (r18). */
  def bm25TopKPrefixCorpus(s: SparkSession, d: String,
                           query0: Seq[String], k: Int = 20): DataFrame = {
    val (exact, prefixes) = splitSearchTerms(query0.distinct)
    val tf = tfTable(s, d)
    val query = (exact ++ expandPrefixes(tf.select(col("tok")), prefixes))
      .distinct
    if (query.isEmpty)
      Tables.documents(s, d).select(col("doc_id"), lit(0L).as("dl"),
        lit(0.0).as("score")).limit(0)
    else bm25FromTf(tf, dlTable(s, d), query, k)
  }

  /** [[bm25TopKOn]] with prefix-term syntax (r15): trailing-`*` query
    * terms expand against the corpus vocabulary under the shared rule
    * ([[expandPrefix]] — lexicographic, capped at [[MaxExpansions]]) and
    * the expanded set scores as a normal multi-term query. A separate
    * entry point, not a change to [[bm25TopKOn]]: that scorer's terms
    * are ANALYZED tokens (a document token can legitimately end in `*`),
    * so only surfaces that declare the prefix syntax opt in. */
  def bm25TopKOnPrefix(docs: DataFrame,
                       query0: Seq[String], k: Int = 20): DataFrame = {
    val (exact, prefixes) = splitSearchTerms(query0.distinct)
    if (prefixes.isEmpty)
      return if (exact.isEmpty)
        docs.select(col("doc_id"), lit(0L).as("dl"),
          lit(0.0).as("score")).limit(0)
      else bm25TopKOn(docs, exact, k)
    // ONE tokenize (r16, VERDICT r15 #2): the (doc_id, tok, tf) frame —
    // exactly the postings an index would materialize, smaller than the
    // raw token stream — is checkpointed so vocabulary expansion and the
    // scorer's stats+score jobs share a single corpus scan instead of
    // tokenizing three times. (The SERVING path at scale is the CDC
    // index with its termdict pruning; this is the ad-hoc direct scan.)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val query = (exact ++ expandPrefixes(tf.select(col("tok")), prefixes))
      .distinct
    if (query.isEmpty)
      docs.select(col("doc_id"), lit(0L).as("dl"),
        lit(0.0).as("score")).limit(0)
    else if (query.size > WideQueryMax)
      // expanded prefixes routinely hit the 50-term cap: the long scorer's
      // plan does not grow with the expansion (r16, VERDICT r15 #2 — the
      // wide form's planning/codegen was the dominant prefix-query cost)
      bm25ScoreLong(tf,
        tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")), query, k)
    else {
      // per-doc frame from the postings: dl = Σtf (the token count),
      // per-term tf summed under the same one-contribution-per-distinct-
      // term rule — feeds the ONE scoring tail bm25TopKOn uses, so the
      // two entry points cannot drift
      val perDoc = tf.groupBy(col("doc_id")).agg(
        sum(col("tf")).as("dl"),
        query.zipWithIndex.map { case (t, i) =>
          sum(when(col("tok") === t, col("tf")).otherwise(0L)).as(s"tf$i")
        }: _*)
      bm25ScorePerDoc(perDoc, query, k)
    }
  }

  /** [[bm25TopK]] over an arbitrary (doc_id, text) frame — the streamed
    * index's batch twin ([[graft.streaming.IndexStream]] proves its
    * incremental index answers identically to this). */
  def bm25TopKOn(docs: DataFrame,
                 query0: Seq[String] = Bm25Query, k: Int = 20): DataFrame = {
    // duplicate query terms collapse (one contribution per distinct term)
    // — the same rule IndexStream.search applies, so the two scorers agree
    // for ANY query, not just duplicate-free ones
    val query = query0.distinct
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    if (query.size > WideQueryMax)
      // a >16-term ad-hoc query (searchSeries hands expanded prefixes
      // here over its checkpointed series frame) takes the long scorer;
      // with an UN-checkpointed docs frame this shape re-tokenizes per
      // broadcast job, so wide callers with huge raw corpora should
      // pre-aggregate as bm25TopKOnPrefix does
      bm25ScoreLong(
        tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")),
        tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")), query, k)
    else {
      val perDoc = tok.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        query.zipWithIndex.map { case (t, i) =>
          sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i")
        }: _*)
      bm25ScorePerDoc(perDoc, query, k)
    }
  }

  /** Query-width threshold above which the scorers switch from the wide
    * per-term-column aggregate to the explode/join shape ([[bm25ScoreLong]]):
    * the wide form plans and codegens O(|query|) columns — measured r16, a
    * 50-term expanded prefix query spent ~1.7 s in planning/codegen on a
    * 7,500-row corpus where the 2-term query took 0.39 s — while the long
    * form's plan is independent of |query| at the price of one doc_id
    * join. Results are bit-identical (absent terms contribute exactly
    * 0.000000 in the wide form; the decimal sum is association-free).
    * `var` is a TEST SEAM only (r17, VERDICT r16 #2): the crossover spec
    * forces the SAME query through both shapes and asserts bit-equality
    * at the boundary — production code never writes it. */
  private[graft] var WideQueryMax = 16

  /** The long-query scorer: one row per (doc, present query term), per-term
    * [[bm25Contrib]] joined against broadcast per-term df and 1-row corpus
    * stats, summed per doc as exact decimals — the same score, tie-break,
    * and `score > 0` inclusion as the wide tail, with a plan whose size
    * does not grow with the expansion. `tf` is `(doc_id, tok, tf)` over
    * the WHOLE corpus vocabulary (callers hand a checkpointed frame);
    * `dl` is `(doc_id, dl)` over all docs — corpus stats must count every
    * doc and token, not just query matches. */
  private def bm25ScoreLong(tf: DataFrame, dl: DataFrame,
                            query: Seq[String], k: Int): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qtf = tf.where(col("tok").isin(query: _*))
    val df = qtf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = qtf
      .join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_tokens")))
      .groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"),
        sum(col("contrib")).cast("double").as("score"))
      .where(col("score") > 0)
      .select(col("doc_id"), col("dl"), col("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** The scoring tail shared by [[bm25TopKOn]] and [[bm25TopKOnPrefix]]
    * (one rule, two per-doc builders): 1-row corpus stats broadcast back
    * over the `(doc_id, dl, tf0..tfN)` frame, per-term [[bm25Contrib]]
    * summed as exact decimals, `score > 0` inclusion, (score desc,
    * doc_id) TakeOrdered. */
  private def bm25ScorePerDoc(perDoc: DataFrame, query: Seq[String],
                              k: Int): DataFrame = {
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens") +:
      query.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("score",
        query.indices.map(i => bm25Contrib(col(s"tf$i"), col(s"df$i"),
          col("dl"), col("n_docs"), col("total_tokens")))
          .reduce(_ + _).cast("double"))
      .where(col("score") > 0)
      .select(col("doc_id"), col("dl"), col("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  // ---- trained quality classifier (logistic regression by GD) --------------
  //
  // The "train a small quality/domain classifier, score the corpus" stage
  // every LLM curation pipeline runs (fastText-style): batch gradient
  // descent on token-share features, each round ONE tiny aggregate over the
  // corpus (per-doc gradient terms rounded to 8 decimals and summed as
  // exact decimals, weights re-rounded per round) — so the DuckDB oracle
  // replays the whole optimization as unrolled CTEs, the bpe_train /
  // graph_pagerank iterative-replay discipline. Scale shape: training cost
  // is rounds × (one scan of the cached feature frame + a 1-row collect);
  // scoring is map-only under broadcast weights.

  /** Indicator words whose per-doc share gives the classifier weak
    * unigram features (x1..x4) next to the strong bigram-LLR one (x0).
    * private[graft]: the quality_* oracles in SparkEntry derive their
    * unrolled CTEs from these SAME constants, so trainer and oracle can
    * never drift apart.
    */
  private[graft] val LrWords = Seq("window", "customer", "scan", "table")
  /** Feature count: the bigram log-likelihood ratio + one share per word. */
  private[graft] val LrNFeats = LrWords.length + 1
  private[graft] val LrRounds = 8
  private[graft] val LrRate = 2.0

  /** Per-doc features: label y (lang = en); x0 = ×10-scaled mean bigram
    * log-likelihood ratio under add-1-smoothed en-vs-rest bigram LMs (the
    * DSIR-family importance feature, here at bigram granularity — where
    * this corpus's language signal actually lives); x1..x4 = ×10-scaled
    * indicator-word shares. Everything rounded to exact decimals at the
    * usual stations so the oracle replays the frame bit-for-bit.
    */
  /** Per-doc bigram stream of `docs` keeping `keep` columns. */
  private def lrBigrams(docs: DataFrame, keep: Seq[String]): DataFrame =
    docs
      .select(keep.map(col) :+ tokens(col("text")).as("toks"): _*)
      .where(size(col("toks")) >= 2)
      .select(keep.map(col) :+
        explode(expr("transform(sequence(1, size(toks)-1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("bg"): _*)
      .select(keep.map(col) ++ Seq(
        col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)

  /** The CORPUS-trained bigram log-likelihood-ratio table (w1, w2, lr) —
    * the reference-corpus artifact every scorer joins against: batch
    * features, the streaming gate ([[qualityScoreDocs]] over arbitrary
    * docs), and the oracle's replay all read these same 8-decimal values.
    */
  private def lrTable(s: SparkSession, d: String): DataFrame =
    Artifact.build(s, s"text.lrtab|$d") {
      // materialized (r18): lazy before — every lrFeaturesOf consumer
      // re-derived the full bigram count + LLR pipeline per run
      val big = lrBigrams(Tables.documents(s, d), Seq("doc_id", "lang"))
      val cb = big.groupBy(col("w1"), col("w2")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_en"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c_rest"))
      val vs = cb.agg(count(lit(1)).as("v"),
        sum(col("c_en")).as("n_en"), sum(col("c_rest")).as("n_rest"))
      cb.crossJoin(broadcast(vs))
        .select(col("w1"), col("w2"),
          Det.rnd(log(
            ((col("c_en") + 1) * (col("n_rest") + col("v"))).cast("double") /
            ((col("c_rest") + 1) * (col("n_en") + col("v")))), 8)
            .cast("decimal(12,8)").as("lr"))
    }

  /** Features of ARBITRARY (doc_id, text[, lang]) docs under corpus `d`'s
    * trained LLR table — per-doc work only (shares + own bigrams joined
    * against the corpus artifact), so a subset or a streamed micro-batch
    * scores bit-identically to the same rows inside the full corpus pass.
    * `withLabel` adds `y` (needs `lang`); scoring paths run without it.
    */
  private[graft] def lrFeaturesOf(s: SparkSession, d: String, docs: DataFrame,
                                  withLabel: Boolean): DataFrame = {
    val keyCols = if (withLabel) Seq("doc_id", "lang") else Seq("doc_id")
    val shares = docs
      .select(keyCols.map(col) :+ explode(tokens(col("text"))).as("tok"): _*)
      .where(col("tok") =!= "")
      .groupBy(keyCols.map(col): _*).agg(
        count(lit(1)).as("dl"),
        LrWords.zipWithIndex.map { case (w, i) =>
          sum(when(col("tok") === w, 1L).otherwise(0L)).as(s"c$i")
        }: _*)
    val llr = lrBigrams(docs, Seq("doc_id"))
      .join(lrTable(s, d), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(Det.rnd(lit(10.0) * sum(col("lr")).cast("double") / count(lit(1)), 6)
        .as("x0raw"))
    shares.join(llr, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        ((if (withLabel)
            Seq(when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
          else Nil) ++
         (coalesce(col("x0raw"), lit(0.0)).as("x0") +:
          LrWords.indices.map(i =>
            Det.rnd(col(s"c$i") * lit(10.0) / col("dl"), 6).as(s"x${i + 1}")))): _*)
  }

  private def lrFeatures(s: SparkSession, d: String): DataFrame =
    // materialized (r18): the memo used to hand back a LAZY plan, so every
    // GD round and every quality_* consumer re-ran the tokenize + 5-way
    // conditional-sum + bigram-LLR pipeline from the corpus — the feature
    // table is the trained classifier's stored design matrix, the same
    // artifact tier as the shingle/band tables
    Artifact.build(s, s"text.lrfeat|$d", Layout.Wide)(
      lrFeaturesOf(s, d, Tables.documents(s, d), withLabel = true))

  /** Score ARBITRARY (doc_id, text) docs under the classifier trained on
    * corpus `d`: (doc_id, p, keep) — the streaming gate's scorer
    * ([[graft.streaming.QualityStream]]), map-only under the memoized
    * driver-literal weights plus one broadcast-shaped join against the
    * trained LLR table. Proven equal to [[qualityScore]] on corpus rows.
    */
  def qualityScoreDocs(s: SparkSession, d: String, docs: DataFrame): DataFrame = {
    val w = lrWeights(s, d).last
    lrFeaturesOf(s, d, docs, withLabel = false)
      .select(col("doc_id"),
        Det.rnd(lrSigmoid(w), 6).as("p"),
        (Det.rnd(lrSigmoid(w), 6) >= 0.5).cast("bigint").as("keep"))
  }

  /** The per-round weight trajectory [(w_bias, w_0..w_3) after round r] —
    * batch GD from zero weights, learning rate [[LrRate]]; memoized
    * (train once, score everywhere). The update is computed IN Spark SQL
    * (`rnd8(w - lr*(Σrnd8((p-y)·x))/n)`) so the oracle's unrolled CTEs run
    * the numerically identical expression.
    */
  private def lrWeights(s: SparkSession, d: String): Seq[Array[Double]] =
    Artifact.value(s, s"text.lrweights|$d") {
      val feats = lrFeatures(s, d)
      var w = Array.fill(LrNFeats + 1)(0.0)
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      for (_ <- 0 until LrRounds) {
        val p = lrSigmoid(w)
        val gsums = feats.agg(
          count(lit(1)).as("n"),
          sum(Det.rnd(p - col("y"), 8).cast("decimal(20,8)")).as("gs0") +:
          (0 until LrNFeats).map(i =>
            sum(Det.rnd((p - col("y")) * col(s"x$i"), 8).cast("decimal(20,8)"))
              .as(s"gs${i + 1}")): _*)
        val next = gsums.select(w.indices.map(i =>
          Det.rnd(lit(w(i)) - lit(LrRate) *
            (col(s"gs$i").cast("double") / col("n")), 8).as(s"w$i")): _*)
          .collect()(0)
        w = w.indices.map(next.getDouble).toArray
        rounds += w
      }
      rounds.toSeq
    }

  /** p = sigmoid(w·x) as a Column under the given weight literals. */
  private def lrSigmoid(w: Array[Double]): Column = {
    val z = (0 until LrNFeats).foldLeft(lit(w(0)): Column)(
      (acc, i) => acc + lit(w(i + 1)) * col(s"x$i"))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The training trajectory: weights after every GD round. */
  def qualityTrain(s: SparkSession, d: String): DataFrame = {
    val rows = lrWeights(s, d).zipWithIndex.map { case (w, r) =>
      (r + 1).toLong +: w.toSeq
    }
    val df = s.createDataFrame(
      s.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq), 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.LongType, nullable = false) +:
        (0 to LrNFeats).map(i => org.apache.spark.sql.types.StructField(
          s"w$i", org.apache.spark.sql.types.DoubleType, nullable = false))))
    Det.ordered(df)
  }

  /** Apply the trained classifier: per-doc probability and prediction
    * (doc_id < 100 for a bounded result) — map-only under the broadcast
    * (driver-literal) final weights.
    */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val w = lrWeights(s, d).last
    val out = lrFeatures(s, d)
      .where(col("doc_id") < 100)
      .select(col("doc_id"),
        Det.rnd(lrSigmoid(w), 6).as("p"),
        (Det.rnd(lrSigmoid(w), 6) >= 0.5).cast("bigint").as("pred"),
        col("y").cast("bigint").as("label"))
    Det.ordered(out)
  }

  /** The honest metrics row over the FULL corpus: confusion counts,
    * accuracy / precision / recall — the go/no-go a pipeline reads before
    * gating on the classifier.
    */
  def qualityEval(s: SparkSession, d: String): DataFrame = {
    val w = lrWeights(s, d).last
    val scored = lrFeatures(s, d).select(
      (Det.rnd(lrSigmoid(w), 6) >= 0.5).cast("bigint").as("pred"),
      col("y").cast("bigint").as("label"))
    scored.agg(
        count(lit(1)).as("n"),
        sum(when(col("pred") === 1 && col("label") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("label") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("label") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && col("label") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        Det.rnd((col("tp") + col("tn")) * lit(1.0) / col("n"), 4).as("accuracy"),
        // an all-negative (or all-positive) predictor is a REAL outcome a
        // signal-free corpus produces (the sf1 rehearsal hit it): the
        // undefined ratio is NULL, never a divide-by-zero crash
        when(col("tp") + col("fp") === 0, lit(null).cast("double"))
          .otherwise(Det.rnd(col("tp") * lit(1.0) / (col("tp") + col("fp")), 4))
          .as("precision"),
        when(col("tp") + col("fn") === 0, lit(null).cast("double"))
          .otherwise(Det.rnd(col("tp") * lit(1.0) / (col("tp") + col("fn")), 4))
          .as("recall"))
  }

  /** The gate report a pipeline reads after adopting the classifier:
    * per SOURCE, how many documents survive the p ≥ 0.5 gate and the mean
    * score — the mix-shift view (a gate that silently empties one source
    * is the classic curation accident this row catches). One map-side
    * scoring pass + one small-key aggregation.
    */
  def qualityGate(s: SparkSession, d: String): DataFrame = {
    val w = lrWeights(s, d).last
    val scored = lrFeatures(s, d).select(col("doc_id"),
      (Det.rnd(lrSigmoid(w), 6) >= 0.5).cast("bigint").as("keep"),
      Det.rnd(lrSigmoid(w), 6).cast("decimal(10,6)").as("p"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val out = scored.join(src, "doc_id")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        Det.rnd(sum(col("keep")) * lit(1.0) / count(lit(1)), 4).as("kept_share"),
        Det.rnd(sum(col("p")).cast("double") / count(lit(1)), 4).as("avg_p"))
    Det.ordered(out)
  }

  /** Reliability diagram over the full corpus: predicted probability
    * binned into deciles (bin 9 absorbs p = 1.0), per bin the count,
    * positive count, mean predicted probability and empirical positive
    * rate — calibration is what separates a classifier a pipeline can
    * THRESHOLD from one it can only rank with. Binning is exact decimal
    * arithmetic (p is DECIMAL(10,6), so floor(p*10) never straddles a
    * float boundary differently per engine). One map-side scoring pass +
    * a 10-key aggregation.
    */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    val w = lrWeights(s, d).last
    val p6 = Det.rnd(lrSigmoid(w), 6).cast("decimal(10,6)")
    val out = lrFeatures(s, d)
      .select(least(floor(p6 * 10), lit(9L)).cast("bigint").as("bin"),
        p6.as("p"), col("y"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(col("y")).cast("bigint").as("n_pos"),
        Det.rnd(sum(col("p")).cast("double") / count(lit(1)), 4).as("mean_p"),
        Det.rnd(sum(col("y")) * lit(1.0) / count(lit(1)), 4).as("pos_rate"))
    Det.ordered(out)
  }

  /** Gate-threshold sweep: for each threshold t in 0.1..0.9, how many
    * documents "keep = (p >= t)" retains and how accurate that gate is
    * against the label — the table a pipeline reads to PICK its gate
    * threshold instead of defaulting to 0.5. The comparison is exact
    * (p*10 vs the integer t, both decimal), so no threshold ever sits on
    * a float boundary. One scoring pass fanned across a broadcast 9-row
    * threshold frame, aggregated on 9 keys.
    */
  def qualityThresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = lrWeights(s, d).last
    val p6 = Det.rnd(lrSigmoid(w), 6).cast("decimal(10,6)")
    val scored = lrFeatures(s, d).select(p6.as("p"), col("y"))
    val th = (1 to 9).toDF("t")
    val keep = (col("p") * 10 >= col("t")).cast("bigint")
    val out = scored.crossJoin(broadcast(th))
      .groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        sum(keep).as("n_kept"),
        Det.rnd(sum(keep) * lit(1.0) / count(lit(1)), 4).as("kept_share"),
        Det.rnd(sum(when((col("p") * 10 >= col("t")) === (col("y") === 1.0),
          1L).otherwise(0L)) * lit(1.0) / count(lit(1)), 4).as("accuracy"))
      .select((col("t").cast("double") / 10).as("threshold"),
        col("n"), col("n_kept"), col("kept_share"), col("accuracy"))
    Det.ordered(out)
  }

  /** Batched BM25 retrieval — the offline query-table shape (score a whole
    * evaluation set in one pass): terms from every query are filtered out
    * of the token stream BEFORE any shuffle (the explode's output shrinks
    * to matching tokens only), tf joins the broadcast (query, term) table
    * to fan each matching doc-term into its queries, per-doc length joins
    * on doc_id, and one (query, doc) aggregation plus a per-query window
    * yields top-k per query. Scale shape: corpus-sized work is the scan +
    * the per-doc length aggregate; everything keyed by query terms is
    * |matching tokens|, not |corpus|, and the window partitions by
    * query_id — never a global sort.
    */
  def bm25Batch(s: SparkSession, d: String,
                queries0: Seq[(Int, Seq[String])] = Bm25Queries,
                k: Int = 5): DataFrame = {
    import s.implicits._
    // duplicate terms within a query collapse, as in bm25TopKOn
    val queries = queries0.map { case (q, ts) => (q, ts.distinct) }
    val qterms = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    // r18: both sides come from the memoized postings (dl = per-doc Σtf —
    // the same token count the raw-scan groupBy produced); r19: dl itself
    // is the memoized doc-length artifact instead of a per-call aggregate
    val tf0 = tfTable(s, d)
    val dl = dlTable(s, d)
    val nd = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val tf = tf0.where(col("tok").isin(allTerms: _*))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "tok")
      .join(broadcast(qterms.withColumnRenamed("term", "tok")), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nd))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_tokens"))).as("dscore"))
      .select(col("query_id"), col("doc_id"),
        col("dscore").cast("double").as("score"))
      // same inclusion rule as bm25TopKOn / IndexStream.search: all-zero
      // rounded contributions = not a match (ADVICE r13 — the three
      // scorers must share ONE rule or near-universal terms diverge them)
      .where(col("score") > 0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val out = scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
    Det.ordered(out)
  }
}
