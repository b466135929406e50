package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Composed training-data curation pipeline: quality gate -> exact
  * dedup -> annotation. Each stage is one of the verified operators;
  * the composition stays a single declarative plan (Catalyst sees
  * through all of it — the quality filter pushes into the scan, the
  * dedup is one hash shuffle, annotations are narrow).
  */
object Pipeline {

  final case class QualityThresholds(
      minTokens: Int = 20,
      maxStopwordRatio: Double = 0.5)

  /** The shared quality gate: documents passing the token-count and
    * stopword-ratio thresholds, original columns only. IN PLACE — a
    * filter over appended signal columns, never an id set joined back
    * (an O(corpus) id set only broadcasts at toy scale; past the
    * broadcast threshold the join degrades to a corpus shuffle). p02
    * and p03 gate through here so their oracles stay gate-identical by
    * construction (p01's variant differs: it keeps the quality columns
    * for downstream annotation). */
  private def qualityKept(docs: DataFrame, textCol: String, idCol: String,
      thresholds: QualityThresholds): DataFrame =
    TextAnalysis.qualitySignals(docs, textCol)
      .filter(col("n_tokens") >= thresholds.minTokens &&
        col("stopword_ratio") < thresholds.maxStopwordRatio)
      .drop(TextAnalysis.qualitySignalCols: _*)

  /** Optional near-duplicate stage parameters: LSH banding (see
    * [[Dedup.lshCandidatePairs]]) + group-resolution iteration cap. */
  final case class NearDupConfig(
      k: Int = 6, bandWidth: Int = 2, shingleSize: Int = 3, maxIter: Int = 20)

  /** Clean a document corpus: drop low-quality rows, keep one
    * representative per exact content hash (minimum id), optionally
    * resolve LSH near-dup groups and keep only their representatives,
    * annotate with token count and predicted language.
    *
    * With a near-dup stage the plan pins one cache (see
    * [[cleanCorpusWithRelease]]); this overload discards the release
    * handle — convenient for one-shot runs, but long sessions running
    * many corpora should call the handle-returning variant. */
  def cleanCorpus(docs: DataFrame, textCol: String, idCol: String,
      thresholds: QualityThresholds = QualityThresholds(),
      langMarkers: Seq[(String, Seq[String])] = Seq(
        "en" -> Seq("the", "a", "or"),
        "de" -> Seq("der", "die", "und"),
        "es" -> Seq("el", "la", "los")),
      nearDup: Option[NearDupConfig] = None): DataFrame =
    cleanCorpusWithRelease(docs, textCol, idCol, thresholds, langMarkers, nearDup)._1

  /** [[cleanCorpus]] plus an unpersist handle (the linkLoad
    * release-handle pattern): the near-dup stage persists the
    * quality+exact-dedup frame because it has two consumers — the
    * candidate pipeline (materialized eagerly inside nearDupGroups) and
    * the final anti-join. Invoke the handle after consuming the result
    * to free that executor storage; without a near-dup stage the handle
    * is a no-op. */
  def cleanCorpusWithRelease(docs: DataFrame, textCol: String, idCol: String,
      thresholds: QualityThresholds = QualityThresholds(),
      langMarkers: Seq[(String, Seq[String])] = Seq(
        "en" -> Seq("the", "a", "or"),
        "de" -> Seq("der", "die", "und"),
        "es" -> Seq("el", "la", "los")),
      nearDup: Option[NearDupConfig] = None): (DataFrame, () => Unit) = {
    // in-place gate like qualityKept, but n_tokens rides along for the
    // downstream annotation select
    val kept = TextAnalysis.qualitySignals(docs, textCol)
      .filter(col("n_tokens") >= thresholds.minTokens &&
        col("stopword_ratio") < thresholds.maxStopwordRatio)
      .drop("avg_word_len", "stopword_ratio")
    val exact = Dedup.dropExactDuplicates(kept, textCol, idCol)
    val (deduped, release) = nearDup match {
      case None => (exact, () => ())
      case Some(cfg) =>
        val exactC = exact.persist()
        val groups = Dedup.nearDupGroups(
          Dedup.lshCandidatePairs(exactC, textCol, idCol,
            cfg.k, cfg.bandWidth, cfg.shingleSize),
          maxIter = cfg.maxIter)
        // drop every doc whose component representative is another doc
        val out = exactC.join(groups.filter(col("doc_id") =!= col("group_id"))
          .select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
        (out, () => { exactC.unpersist(blocking = false); () })
    }
    val annotated = TextAnalysis
      .languageId(deduped, textCol, Seq(idCol, "n_tokens"), langMarkers)
      .select(col(idCol), col("n_tokens"), col("pred_lang"))
    (annotated, release)
  }

  /** The pretraining pipeline end-to-end: quality gate -> LSH near-dup
    * drop (a doc paired with a smaller id is dominated; one anti-join,
    * no iteration) -> deterministic train split -> per-source quota ->
    * sequence packing, returned with an unpersist handle. The stages up
    * to the train split are ONE declarative plan (the quality filter
    * pushes into the scan, the LSH drop is one anti-join); that plan is
    * persisted at the split boundary because [[Sampling.quotaPerGroup]]
    * deliberately reads its input twice (rank branch + offsets branch)
    * — without the cache the expensive upstream (shingle explode,
    * banding shuffles, anti-join) would compute twice per run. Invoke
    * the handle after consuming the result to free the executor
    * storage. */
  def pretrainPipelineWithRelease(docs: DataFrame, textCol: String,
      idCol: String, sourceCol: String,
      thresholds: QualityThresholds = QualityThresholds(),
      nearDup: NearDupConfig = NearDupConfig(),
      trainPct: Int = 80, quota: Int = 15,
      seqLen: Int = 512, bucketSize: Long = 1L << 20): (DataFrame, () => Unit) = {
    val kept = qualityKept(docs, textCol, idCol, thresholds)
    val dominated = Dedup.lshCandidatePairs(kept, textCol, idCol,
        nearDup.k, nearDup.bandWidth, nearDup.shingleSize)
      .select(col("b_id").as(idCol)).distinct()
    val deduped = kept.join(dominated, Seq(idCol), "left_anti")
    val train = Sampling.sampleByHash(deduped, idCol, num = trainPct, den = 100)
      .persist()
    val balanced = Sampling.quotaPerGroup(train, idCol, sourceCol, cap = quota)
    val packed = Packing.packSequences(balanced, idCol, textCol, seqLen, bucketSize)
    (packed, () => { train.unpersist(blocking = false); () })
  }

  /** FineWeb-style curation pipeline end-to-end: Gopher composite
    * quality gate -> LSH near-dup drop -> PII redaction -> temperature-
    * flattened language mix -> sequence packing. Every stage is one of
    * the verified operators (d28, d07/p02's dominated drop, d21, d29,
    * d16), composed the way the published web-corpus recipes chain
    * them; a user of the reference-style toolkit runs the whole recipe
    * in one call and gets packed `seqLen`-token contexts out.
    *
    * Returned with an unpersist handle. The stages through redaction
    * are ONE declarative plan (the gate is a narrow zero-exchange
    * filter, the LSH drop one anti-join, redaction a narrow
    * projection); that plan is persisted before the mix because
    * [[Sampling.temperatureMix]] — like the quota sampler it extends —
    * deliberately reads its input twice (bucket-count branch + row-rank
    * branch), and without the cache the shingle/banding work upstream
    * would compute twice. Packing then reads the mix output once. */
  def fineWebPipelineWithRelease(docs: DataFrame, textCol: String,
      idCol: String, langCol: String, mixTarget: Long,
      nearDup: NearDupConfig = NearDupConfig(),
      seqLen: Int = 512, bucketSize: Long = 1L << 20): (DataFrame, () => Unit) = {
    // in-place gate: a filter, never an id set joined back (an
    // O(corpus) id set only broadcasts at toy scale)
    val kept = TextAnalysis.gopherQualityKept(docs, textCol)
    val dominated = Dedup.lshCandidatePairs(kept, textCol, idCol,
        nearDup.k, nearDup.bandWidth, nearDup.shingleSize)
      .select(col("b_id").as(idCol)).distinct()
    val deduped = kept.join(dominated, Seq(idCol), "left_anti")
    val redacted = TextAnalysis.redactPii(deduped, textCol,
        Seq(idCol, langCol))
      .persist()
    val mixed = Sampling.temperatureMix(redacted, idCol, langCol, mixTarget)
    val packed = Packing.packSequences(mixed, idCol, "redacted_text",
      seqLen, bucketSize)
    (packed, () => { redacted.unpersist(blocking = false); () })
  }

  /** ExactSubstr curation pipeline (the published "Deduplicating
    * Training Data Makes Language Models Better" recipe composed with
    * the Gopher gate): quality gate → strip every all-but-canonical
    * duplicated `spanTokens`-token span WITHIN the gated corpus
    * ([[Dedup.stripDuplicatedSpans]] — duplication is assessed after
    * gating, so junk a gate already rejects cannot mark spans in
    * surviving text) → drop documents stripped to nothing → pack the
    * clean text into `seqLen`-token training sequences in id order.
    *
    * Returned with an unpersist handle. Two frames are persisted (the
    * linkLoad release-handle pattern): the gate output, which has three
    * consumers — the span-occurrence index, the strip step's text join,
    * and the untouched-docs anti-join — and the strip output, which has
    * two (the anti-join's id probe and the clean-text union branch;
    * uncached, column pruning would de-canonicalize the two subtrees
    * and re-run the span windows AND the text-carrying join, breaking
    * stripDuplicatedSpans' carries-text-once contract). Packing then
    * reads the union a single time. */
  def exactSubstrPipelineWithRelease(docs: DataFrame, textCol: String,
      idCol: String, spanTokens: Int = 8, seqLen: Int = 512,
      bucketSize: Long = 1L << 20): (DataFrame, () => Unit) = {
    val kept = TextAnalysis.gopherQualityKept(docs, textCol).persist()
    val stripped = Dedup
      .stripDuplicatedSpans(kept, textCol, idCol, spanTokens).persist()
    val untouched = kept
      .join(stripped.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol).as("clean_text"))
    val clean = untouched.unionByName(
      stripped.filter(col("clean_text") =!= "")
        .select(col(idCol), col("clean_text")))
    val packed = Packing.packSequences(clean, idCol, "clean_text",
      seqLen, bucketSize)
    (packed, () => {
      kept.unpersist(blocking = false)
      stripped.unpersist(blocking = false)
      ()
    })
  }

  /** The CCNet pipeline's scoring half: train a hashed-bigram LM on
    * the in-domain slice ([[TextAnalysis.lmStats]]), score every
    * document's quantized mean log2 perplexity
    * ([[TextAnalysis.lmPerplexity]]), and split the corpus into exact
    * head/middle/tail perplexity thirds
    * ([[Sampling.scoreBandSplit]] — low perplexity = head = keeps).
    * Published CCNet trains on Wikipedia and keeps head(+middle);
    * `targetFilter` is that in-domain selector.
    *
    * The stats artifact is MATERIALIZED through its config-sized
    * driver hop ([[TextAnalysis.localizeStats]]) before scoring: the
    * scorer joins it twice (context and pair sides), and a lazy
    * artifact would re-run the training scan once per join — the
    * localized frame is ≤ ctxBuckets + pairBuckets rows by
    * construction, the trained-codebook shape PQ already uses.
    * Output: (idCol, ppl_q, band). */
  def ccnetSplit(docs: DataFrame, textCol: String, idCol: String,
      targetFilter: Column, ctxBuckets: Int = 1024,
      pairBuckets: Int = 16384, order: Int = 2): DataFrame = {
    val stats = TextAnalysis.localizeStats(TextAnalysis.lmStats(
      docs.filter(targetFilter), textCol, ctxBuckets, pairBuckets, order))
    val scores = TextAnalysis.lmPerplexity(docs, textCol, idCol, stats,
      ctxBuckets, pairBuckets, order = order)
    Sampling.scoreBandSplit(scores, "ppl_q", idCol)
  }

  /** The modern-web curation recipe end to end: Gopher composite gate
    * -> corpus-wide LINE dedup with all-boilerplate husks dropped
    * ([[Dedup.stripDuplicatedLines]]) -> hashed-bigram LM perplexity
    * against the in-domain `targetFilter` slice -> CCNet band split
    * keeping head + middle -> whitespace sequence packing. The stages
    * published web pipelines chain (C4's line pass, Gopher's gate,
    * CCNet's perplexity selection), composed over the cleaned text at
    * every step.
    *
    * Three persisted frames with release handles (the p05 pattern):
    * the gate output (three consumers — line-occurrence index, strip
    * text join, untouched anti-join), the strip output (two — the
    * anti-join probe and the clean union), and the cleaned corpus
    * (scoring scan, selection join; plus the stats artifact built
    * eagerly through its config-sized driver hop before scoring, which
    * is why the caches pay for themselves immediately). */
  def webCurationPipelineWithRelease(docs: DataFrame, textCol: String,
      idCol: String, targetFilter: Column, ctxBuckets: Int = 1024,
      pairBuckets: Int = 16384, seqLen: Int = 512,
      bucketSize: Long = 1L << 20): (DataFrame, () => Unit) = {
    val kept = TextAnalysis.gopherQualityKept(docs, textCol).persist()
    val stripped = Dedup.stripDuplicatedLines(kept, textCol, idCol).persist()
    val untouched = kept
      .join(stripped.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol).as("clean_text"))
    val clean = untouched.unionByName(
        stripped.filter(col("clean_text") =!= "")
          .select(col(idCol), col("clean_text")))
      .persist()
    val packed = webCurationFinish(clean, idCol, targetFilter,
      ctxBuckets, pairBuckets, seqLen, bucketSize)
    (packed, () => {
      kept.unpersist(blocking = false)
      stripped.unpersist(blocking = false)
      clean.unpersist(blocking = false)
      ()
    })
  }

  /** The CORPUS-GLOBAL downstream of the web recipe — LM scoring
    * against the in-domain slice, CCNet head+middle selection, and
    * sequence packing — over an already-cleaned corpus frame
    * (`idCol`, clean_text). Shared by the one-shot pipeline and the
    * streamed w09 flow: the ingest half (gate + line dedup) streams
    * incrementally, but exact perplexity thirds and global pack
    * offsets are corpus-wide BY DEFINITION, so a streaming deployment
    * runs this half periodically over the accumulated clean table —
    * the nightly-scoring shape. */
  def webCurationFinish(clean: DataFrame, idCol: String,
      targetFilter: Column, ctxBuckets: Int = 1024,
      pairBuckets: Int = 16384, seqLen: Int = 512,
      bucketSize: Long = 1L << 20): DataFrame =
    webCurationFinishFromStats(clean, idCol,
      TextAnalysis.localizeStats(TextAnalysis.lmStats(
        clean.filter(targetFilter), "clean_text", ctxBuckets,
        pairBuckets)),
      ctxBuckets, pairBuckets, seqLen, bucketSize)

  /** [[webCurationFinish]] with the LM stats artifact supplied by the
    * caller instead of trained in place — the incremental-maintenance
    * shape: a streamed ingest that writes each delivery's
    * config-sized lmStats partial to a [[StatsStore]] hands the
    * store's ROLLUP here, and the nightly finish pays a config-sized
    * rollup read instead of re-scanning the accumulated clean corpus
    * for training (the w14 gate; p14 proves the rollup drops into the
    * scorer hash-identically to a one-shot artifact). `stats` must be
    * localized ([[TextAnalysis.localizeStats]]) — the scorer joins it
    * twice, and a lazy rollup would re-run its aggregation per
    * join. */
  def webCurationFinishFromStats(clean: DataFrame, idCol: String,
      stats: DataFrame, ctxBuckets: Int = 1024,
      pairBuckets: Int = 16384, seqLen: Int = 512,
      bucketSize: Long = 1L << 20): DataFrame = {
    val scores = TextAnalysis.lmPerplexity(clean, "clean_text", idCol,
      stats, ctxBuckets, pairBuckets)
    val bands = Sampling.scoreBandSplit(scores, "ppl_q", idCol)
    val sel = clean.join(
      bands.filter(col("band") =!= "tail").select(col(idCol)),
      Seq(idCol), "left_semi")
    Packing.packSequences(sel, idCol, "clean_text", seqLen, bucketSize)
  }

  /** Chunk-then-pack pretraining pipeline: quality gate -> exact dedup
    * -> token-window chunking ([[TextAnalysis.chunkTokenWindows]]
    * semantics: `window`-token chunks advancing by `stride`) -> sequence
    * packing of the CHUNK stream into `seqLen`-token contexts in
    * (doc, chunk) order — real pipelines chunk long documents BEFORE
    * packing so no training sequence straddles more text than one
    * window.
    *
    * FUSED for scale: the naive composition (chunk rows -> packSequences)
    * needs a unique integral order key for the distributed prefix sum,
    * and any synthesized sparse key (`doc_id * 2^20 + chunk_idx`) makes
    * the prefix sum's bucket level one row per DOCUMENT — corpus-sized,
    * exactly the single-task collapse the two-level scan exists to
    * avoid. Instead the chunk grid is arithmetic on the token count
    * alone (chunks 0..nc-2 are always full windows; only the last runs
    * short), so the pipeline runs ONE doc-grain prefix sum over the
    * closed-form per-doc chunk-stream length `n + (nc-1)(window-stride)`
    * and then a purely narrow explode emits every chunk with its slice
    * digest and pack offsets — the chunk stream itself never shuffles,
    * and the output is row-identical to chunkTokenWindows joined
    * against packSequences of the chunk stream.
    *
    * Output per chunk: (idCol, chunk_idx, chunk_tokens, chunk_md5,
    * start_offset, first_seq, last_seq); `first_seq < last_seq` marks a
    * chunk split across a context boundary. */
  def chunkedPretrainPipeline(docs: DataFrame, textCol: String, idCol: String,
      thresholds: QualityThresholds = QualityThresholds(),
      window: Int = 64, stride: Int = 48, seqLen: Int = 512,
      bucketSize: Long = 1 << 20): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window=$window], got $stride")
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val ded = Dedup.dropExactDuplicates(
      qualityKept(docs, textCol, idCol, thresholds), textCol, idCol)
    val counted = ded.select(col(idCol),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__n", size(col("__tk")).cast("long"))
      .withColumn("__nc", expr(
        s"if(__n <= $window, 1L, ((__n - $window + $stride - 1) div $stride) + 1L)"))
      .withColumn("__s",
        col("__n") + (col("__nc") - lit(1L)) * lit((window - stride).toLong))
    Packing.prefixSum(counted, idCol, "__s", "__cum", bucketSize)
      .select(col(idCol), col("__tk"), col("__n"),
        (col("__cum") - col("__s")).as("__base"),
        explode(expr("sequence(0L, __nc - 1L)")).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        least(lit(window.toLong), col("__n") - col("chunk_idx") * stride)
          .as("chunk_tokens"),
        md5(array_join(
          expr(s"slice(__tk, int(chunk_idx * $stride) + 1, $window)"), " "))
          .as("chunk_md5"),
        (col("__base") + col("chunk_idx") * window).as("start_offset"))
      .withColumn("first_seq", expr(s"start_offset div $seqLen"))
      .withColumn("last_seq",
        expr(s"(start_offset + chunk_tokens - 1) div $seqLen"))
  }
}
