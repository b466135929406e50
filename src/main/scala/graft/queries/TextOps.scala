package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BucketedStore, Dedup, GraphOps, Packing, Sampling, TextAnalysis}
import graft.sources.{Scratch, Tables}

/** Oracle-checked coverage of the text pipeline operators in
  * graft.operators.{TextAnalysis, Dedup} over the `documents` table.
  *
  * All hashing is md5-based so the DuckDB oracle reproduces it
  * bit-for-bit; MinHash signatures are lexicographic minima of md5 hex
  * strings; ratios are single int/int divisions (bit-deterministic).
  */
object TextOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")),

    "d02_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d), "text", Seq("doc_id"))),

    "d03_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d), "text", Seq("doc_id"))),

    "d04_langid" -> ((s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d), "text",
          Seq("doc_id", "lang"),
          Seq("en" -> Seq("the", "a", "or"),
            "de" -> Seq("der", "die", "und"),
            "es" -> Seq("el", "la", "los")))
        .withColumnRenamed("lang", "declared_lang")),

    "d05_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d), "text", Seq("doc_id"))),

    // Word-set Jaccard near-dup inside n_chars blocks.
    "d06_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "text", "doc_id",
        blockCol = "n_chars", threshold = 0.5)),

    // MinHash(6) + LSH(3 bands of 2) over word-trigram shingles; output
    // is the per-doc candidate count so the degenerate all-similar case
    // stays linear in the output.
    "d07_minhash_lsh" -> ((s, d) =>
      Dedup.lshCandidateCounts(Tables.documents(s, d), "text", "doc_id",
          k = 6, bandWidth = 2)
        .select(col("doc_id"), col("n_candidates"))),

    "d08_simhash" -> ((s, d) =>
      Dedup.simHash(Tables.documents(s, d), "text", "doc_id", nBits = 16)),

    // The composed curation pipeline: quality gate -> exact dedup ->
    // language annotation, one declarative plan.
    "p01_clean_corpus" -> ((s, d) =>
      graft.operators.Pipeline.cleanCorpus(Tables.documents(s, d), "text", "doc_id")),

    // The pretraining pipeline end-to-end (quality gate -> LSH near-dup
    // drop -> 80% train split -> per-source quota -> sequence packing),
    // through the real operator: one declarative plan up to the split,
    // persisted there because the quota sampler reads its input twice —
    // see Pipeline.pretrainPipelineWithRelease (single-upstream-execution
    // is plan-pinned in QueryPlanSpec).
    "p02_pretrain_pipeline" -> ((s, d) =>
      graft.operators.Pipeline.pretrainPipelineWithRelease(
        Tables.documents(s, d), "text", "doc_id", "source",
        trainPct = 80, quota = 15, seqLen = 512)._1),

    // Chunk-then-pack pretraining pipeline: quality gate -> exact
    // dedup -> 64/48 token-window chunks -> 512-token sequence packing
    // of the chunk stream (d24's chunk grid feeding d16's prefix sum,
    // fused so the chunk stream never shuffles — one doc-grain
    // two-level scan, then narrow; bucketSize 64 exercises the
    // multi-bucket path at sf0.01).
    "p03_chunked_pretrain" -> ((s, d) =>
      graft.operators.Pipeline.chunkedPretrainPipeline(
        Tables.documents(s, d), "text", "doc_id",
        window = 64, stride = 48, seqLen = 512, bucketSize = 64)),

    // Winnowing (rolling-hash) document fingerprint.
    "d10_winnow_fingerprint" -> ((s, d) =>
      TextAnalysis.winnowFingerprint(Tables.documents(s, d), "text", Seq("doc_id"))),

    // Near-dup group resolution: connected components over the LSH
    // candidate pairs (min-id label), the keep/drop step after d07.
    "d11_neardup_groups" -> ((s, d) =>
      Dedup.nearDupGroups(Dedup.lshCandidatePairs(
        Tables.documents(s, d), "text", "doc_id", k = 6, bandWidth = 2))),

    // Quality-aware near-dup resolution: within each d11 component,
    // keep the LONGEST member (n_chars, ties to min id) instead of the
    // min id — the published keep-best-copy policy over the same
    // connected components.
    "d42_quality_resolve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.resolveNearDupsByQuality(docs,
        Dedup.nearDupGroups(Dedup.lshCandidatePairs(
          docs, "text", "doc_id", k = 6, bandWidth = 2)),
        "doc_id", "n_chars")
    }),

    // Repetition quality signals: repeated-token/line fractions and
    // top-bigram occurrence mass.
    "d12_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d), "text", Seq("doc_id"))),

    // Rare-token (corpus document-frequency) ratio.
    "d13_rare_tokens" -> ((s, d) =>
      TextAnalysis.rareTokenRatio(Tables.documents(s, d), "text", "doc_id", maxDf = 5)),

    // Duplicated-n-gram (boilerplate) fraction: share of a doc's
    // distinct trigrams that appear in other documents too.
    "d14_dup_ngrams" -> ((s, d) =>
      TextAnalysis.dupNgramFraction(Tables.documents(s, d), "text", "doc_id",
        n = 3, minDf = 2)),

    // Deterministic md5 train/val/test split + the 10%-sample operator
    // (left-joined back so the boolean column witnesses the real filter).
    "d15_hash_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sampled = Sampling.sampleByHash(docs, "doc_id", num = 1, den = 10)
        .select(col("doc_id"), lit(true).as("in_10pct"))
      Sampling.assignSplit(docs, "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select("doc_id", "bucket", "split")
        .join(sampled, Seq("doc_id"), "left")
        .withColumn("in_10pct", coalesce(col("in_10pct"), lit(false)))
    }),

    // Concat-then-chunk sequence packing into 512-token windows via the
    // distributed two-level prefix sum (bucketSize 64 so sf0.01 already
    // exercises the multi-bucket path).
    "d16_pack_sequences" -> ((s, d) =>
      Packing.packSequences(Tables.documents(s, d), "doc_id", "text",
        seqLen = 512, bucketSize = 64)),

    // Corpus balancing: cap every source at 15 docs, selected in
    // deterministic md5-shuffled order.
    "d17_source_quota" -> ((s, d) =>
      Sampling.quotaPerGroup(Tables.documents(s, d), "doc_id", "source", cap = 15)
        .select("doc_id", "source")),

    // Corpus balancing: greedy 2000-token budget per language in
    // md5-shuffled order (first doc of a group always kept).
    "d18_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")))
      Sampling.tokenBudgetPerGroup(docs, "doc_id", "lang", "n_tokens",
          budget = 2000)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    }),

    // Mix upsampling: 3 copies of de, 2 of es, 1 of everything else,
    // with the copy index materialized.
    "d19_upsample" -> ((s, d) =>
      Sampling.upsample(Tables.documents(s, d), "lang",
          Map("de" -> 3, "es" -> 2))
        .select("doc_id", "lang", "copy")),

    // Benchmark decontamination: docs with doc_id % 97 == 0 stand in
    // for the eval set; every other doc is scored by shared distinct
    // trigrams against it (broadcast gram set, corpus never shuffles).
    "d20_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3, minOverlap = 2)
        .select(col("doc_id"), col("n_shared_grams"), col("contaminated"))
    }),

    // Decontamination at the realistic gram size (n=8, the published
    // GPT-3-family method uses 8-13): 8-grams are rarer than docs, so
    // natural overlap is ~0 and the signal comes from a known 12-token
    // probe passage injected into every doc_id%13 corpus doc and into
    // the benchmark side — those docs must report >= 5 shared grams
    // (12-8+1, the grams inside the contiguous passage), everything
    // else ~0. Exercises the gram-set broadcast where the benchmark
    // set is far smaller than the corpus gram space.
    "d23_decontaminate_8gram" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" " + ProbePassage))).otherwise(col("text")))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
        .union(Seq((-1L, ProbePassage)).toDF("doc_id", "text"))
      TextAnalysis.decontaminate(corpus, bench, "text", "doc_id",
          n = 8, minOverlap = 5)
        .select(col("doc_id"), col("n_shared_grams"), col("contaminated"))
    }),

    // Deterministic shuffle-shard assignment: 8 shards, dense 0-based
    // position per shard in md5-shuffled order (two-level rank — a
    // shard is corpus/nShards rows, never one sort task).
    "d22_shard_assign" -> ((s, d) =>
      Sampling.shardAssignments(Tables.documents(s, d), "doc_id", nShards = 8)
        .select("doc_id", "shard", "position")),

    // PII redaction: deterministic synthetic PII (email/IP/phone built
    // from doc_id) appended to each text, then redacted + counted; the
    // oracle rebuilds the same text and must reach the same digest.
    "d21_redact_pii" -> ((s, d) => {
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          col("doc_id") % 256, lit(".7 call 555-867-5309")).as("text"))
      TextAnalysis.redactPii(withPii, "text", Seq("doc_id"))
        .select(col("doc_id"), md5(col("redacted_text")).as("redacted_md5"),
          col("n_pii"))
    }),

    // Context-length segmentation: 64-token sliding windows advancing
    // by 48 (16-token overlap); chunk text rides as an md5 digest so
    // the dump stays small while still witnessing exact content.
    "d24_chunk_windows" -> ((s, d) =>
      TextAnalysis.chunkTokenWindows(Tables.documents(s, d), "text", "doc_id",
          window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))),

    // Corpus keyword extraction: top-5 TF-IDF tokens per document.
    "d25_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d), "text", "doc_id",
        k = 5)),

    // Tokenizer-prep: top-30 corpus vocabulary by collection frequency.
    "d26_vocab_topk" -> ((s, d) =>
      TextAnalysis.vocabularyTopK(Tables.documents(s, d), "text", "doc_id",
        k = 30)),

    // Tokenizer-prep: top-30 adjacent token pairs (the BPE merge-
    // candidate statistic).
    "d27_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairStats(Tables.documents(s, d), "text", k = 30)),

    // Document-level cross-corpus contamination: corpus docs sharing a
    // MinHash band with any benchmark doc (doc_id % 97 == 0 stands in
    // for the eval set, as in d20/d23) and how many bench docs matched.
    // bandWidth=1 (6 single-slot bands): doc-similarity recall is the
    // point here, and width-2 bands match nothing at the sf0.01 gate —
    // a 0-row gated query proves nothing. DedupSpec plants a positive
    // control (a bench doc near-copy in the corpus side) and pins that
    // it IS flagged, so a banding bug that silently drops all matches
    // cannot present as a clean corpus.
    "d31_lsh_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.lshContamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 6, bandWidth = 1)
    }),

    // Substring-level dedup (ExactSubstr family): per-doc count / total
    // tokens / longest of the maximal duplicated 8-token spans, where
    // "duplicated" = the exact 8-gram occurs >= 2 times corpus-wide.
    "d32_dup_spans" -> ((s, d) =>
      Dedup.duplicatedSpanStats(Tables.documents(s, d), "text", "doc_id",
        spanTokens = 8)),

    // The ExactSubstr REMOVE step: strip all-but-canonical duplicated
    // 8-token spans and reassemble; clean text rides as md5 so the
    // dump stays small while witnessing exact reassembled content.
    "d34_strip_spans" -> ((s, d) =>
      Dedup.stripDuplicatedSpans(Tables.documents(s, d), "text", "doc_id",
          spanTokens = 8)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))),

    // FineWeb-style recipe end-to-end: Gopher gate -> LSH near-dup
    // drop -> PII redaction -> temperature lang mix -> 512-token
    // packing (bucketSize 64 exercises the multi-bucket path).
    // (fixture-sized mixTarget/bucketSize passed explicitly: the
    // pipeline's own bucketSize default is the 1<<20 scale value)
    "p04_fineweb_pipeline" -> ((s, d) =>
      graft.operators.Pipeline.fineWebPipelineWithRelease(
        Tables.documents(s, d), "text", "doc_id", "lang", mixTarget = 150,
        bucketSize = 64)._1),

    // Gopher-style composite quality gate: all six signals inside
    // their thresholds, emitted for audit (one narrow pass).
    "d28_gopher_gate" -> ((s, d) =>
      TextAnalysis.gopherQualityFilter(Tables.documents(s, d), "text",
          Seq("doc_id"))
        .select("doc_id", "n_tokens", "avg_word_len", "stopword_ratio",
          "dup_token_ratio", "dup_line_ratio", "top_ngram_mass")),

    // ExactSubstr recipe end-to-end: Gopher gate -> strip
    // all-but-canonical duplicated 8-token spans within the gated
    // corpus -> drop fully-stripped husks -> 512-token packing
    // (bucketSize 64 exercises the multi-bucket path).
    "p05_exactsubstr_pipeline" -> ((s, d) =>
      graft.operators.Pipeline.exactSubstrPipelineWithRelease(
        Tables.documents(s, d), "text", "doc_id", spanTokens = 8,
        seqLen = 512, bucketSize = 64)._1),

    // Streaming curation gate: the documents fixture replayed through
    // a REAL readStream file source into a foreachBatch append sink
    // (the w02 pattern), then the d28 Gopher gate over the accumulated
    // table. Hash-matching the batch d28 oracle proves the
    // stream → table → gate path loses nothing — the streaming-ingest
    // story extended to the curation operators.
    "w03_gopher_stream" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val scratch = Scratch.dir("w03", d)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      val q = graft.streaming.CdcStream.foreachBatchLoader(stream) { batch =>
        batch.write.mode("append").parquet(s"$scratch/documents")
      }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      StreamSlices.requireBatches(q, 1, "w03")
      TextAnalysis.gopherQualityFilter(
        s.read.schema(schema).parquet(s"$scratch/documents"),
        "text", Seq("doc_id"))
    }),

    // Temperature-flattened language mix: 300 docs allocated over
    // langs ∝ sqrt(n_lang) — en's natural 44% share flattens to ~30%.
    "d29_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), "doc_id", "lang",
          totalTarget = 300)
        .select("doc_id", "lang", "mix_target")),

    // CCNet-style band split: exact corpus thirds in (n_chars, doc_id)
    // order via the range-partitioned global rank (never a single-task
    // row_number window).
    "d36_score_bands" -> ((s, d) =>
      Sampling.scoreBandSplit(Tables.documents(s, d), "n_chars", "doc_id")),

    // DSIR importance scoring: hashed-bigram likelihood-ratio weights
    // trained against the doc_id % 97 == 0 target slice (the d20/d31
    // eval-set stand-in), then every raw doc scored by its integer
    // quantized-weight sum. Train + apply composed in one plan.
    "d35_dsir_scores" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = TextAnalysis.dsirStats(
        docs.withColumn("__tgt", col("doc_id") % 97 === 0),
        "text", "__tgt", buckets = 256)
      TextAnalysis.dsirScores(docs.filter(col("doc_id") % 97 =!= 0),
        "text", "doc_id", stats, buckets = 256)
    }),

    // Hashed-bigram LM perplexity (the CCNet KenLM stand-in): stats
    // trained on the doc_id % 97 == 0 in-domain slice (localized
    // through the config-sized driver hop so the two scorer joins
    // don't re-run the training scan), every doc scored with the
    // integer quantized-log2 mean — engine-exact, no libm anywhere.
    "d38_lm_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = TextAnalysis.localizeStats(TextAnalysis.lmStats(
        docs.filter(col("doc_id") % 97 === 0), "text",
        ctxBuckets = 1024, pairBuckets = 16384))
      TextAnalysis.lmPerplexity(docs, "text", "doc_id", stats,
        ctxBuckets = 1024, pairBuckets = 16384)
    }),

    // d38's scoring driven by INCREMENTALLY maintained stats (p14):
    // the in-domain train slice folds into a StatsStore as two
    // delivery halves (one replayed before compaction — absorbed by
    // layout — and one after — absorbed by the manifest), and the
    // store's ROLLUP, not a fresh training scan, feeds the scorer.
    // Perplexities hash-match the one-shot d38 mirror verbatim: the
    // nightly rebuild is now a per-delivery constant plus a
    // config-sized rollup read, with the scorer none the wiser (the
    // bucket/order metadata rides the store round-trip and validates
    // as usual).
    "p14_incremental_lm_scoring" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 97 === 0)
      val store = Scratch.dir("p14", d) + "/lmstore"
      def halfStats(i: Int) = graft.operators.TextAnalysis.lmStats(
        train.filter(col("doc_id") % 2 === i), "text",
        ctxBuckets = 1024, pairBuckets = 16384)
      graft.operators.StatsStore.writeDelivery(store, "even", halfStats(0))
      graft.operators.StatsStore.writeDelivery(store, "odd", halfStats(1))
      graft.operators.StatsStore.writeDelivery(store, "even", halfStats(0))
      graft.operators.StatsStore.compact(s, store, Seq("kind", "bucket"))
      graft.operators.StatsStore.writeDelivery(store, "odd", halfStats(1))
      val stats = TextAnalysis.localizeStats(
        graft.operators.StatsStore.readStats(s, store,
          Seq("kind", "bucket")))
      TextAnalysis.lmPerplexity(docs, "text", "doc_id", stats,
        ctxBuckets = 1024, pairBuckets = 16384)
    }),

    // The same LM at order 3 (two-token contexts) — the knob CCNet's
    // published 5-gram KenLM turns; same integer quantized-log2 chain,
    // bigger context space.
    "d43_lm_trigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = TextAnalysis.localizeStats(TextAnalysis.lmStats(
        docs.filter(col("doc_id") % 97 === 0), "text",
        ctxBuckets = 4096, pairBuckets = 16384, order = 3))
      TextAnalysis.lmPerplexity(docs, "text", "doc_id", stats,
        ctxBuckets = 4096, pairBuckets = 16384, order = 3)
    }),

    // The published CCNet recipe's ACTUAL model order: a 5-gram LM
    // (d43 proved the order knob at 3). Contexts are 4-grams — far
    // more distinct — so ctxBuckets widens 16x. The transition explode
    // is order-invariant (one row per position either way); only the
    // per-row context slice and the artifact's bucket occupancy grow.
    "d46_lm_order5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = TextAnalysis.localizeStats(TextAnalysis.lmStats(
        docs.filter(col("doc_id") % 97 === 0), "text",
        ctxBuckets = 16384, pairBuckets = 16384, order = 5))
      TextAnalysis.lmPerplexity(docs, "text", "doc_id", stats,
        ctxBuckets = 16384, pairBuckets = 16384, order = 5)
    }),

    // Model-based quality classifier (the GPT-3/CCNet "quality
    // classifier trained on a curated seed" published component):
    // one-pass Naive Bayes trained on the doc_id % 5 == 0 slice
    // labeled by doc_id % 10 == 0, then the FULL corpus scored by the
    // integer quantized-log2 nll margin. Class-marker tokens are
    // planted deterministically in both engines (hqmarker /
    // junkmarker) so the classifier separates non-vacuously on the
    // synthetic corpus — the d40-banner device.
    "d47_quality_classifier" -> ((s, d) =>
      TextAnalysis.nbScore(markedDocs(Tables.documents(s, d)), "text",
        "doc_id", markedNbStats(Tables.documents(s, d)), buckets = 512)),

    // The composed GPT-3-style recipe (p10): the d47 classifier GATES
    // the corpus (keep pred_hq only), and the survivors pack into
    // 512-token training sequences — the "classifier-filtered
    // pretraining corpus" published stacks feed the tokenizer. The
    // pack's prefix sums run over the FILTERED set, so sequence ids
    // are dense over survivors.
    "p10_classifier_pack" -> ((s, d) => {
      val marked = markedDocs(Tables.documents(s, d))
      val kept = TextAnalysis.nbScore(marked, "text", "doc_id",
          markedNbStats(Tables.documents(s, d)), buckets = 512)
        .filter(col("pred_hq")).select("doc_id")
        .join(marked, Seq("doc_id"))
      Packing.packSequences(kept, "doc_id", "text",
        seqLen = 512, bucketSize = 64)
    }),

    // The composed CCNet recipe: d38's perplexity scores feeding d36's
    // exact-thirds band split — train on the in-domain slice, score
    // the corpus, label head/middle/tail (head = lowest perplexity).
    "p06_ccnet_pipeline" -> ((s, d) =>
      graft.operators.Pipeline.ccnetSplit(Tables.documents(s, d),
        "text", "doc_id", col("doc_id") % 97 === 0)),

    // p06 at the published order: the same composed recipe scored by
    // the 5-gram model (bands shift — a 5-gram scorer separates
    // in-domain text far more sharply than the bigram stand-in).
    "p09_ccnet_order5" -> ((s, d) =>
      graft.operators.Pipeline.ccnetSplit(Tables.documents(s, d),
        "text", "doc_id", col("doc_id") % 97 === 0,
        ctxBuckets = 16384, pairBuckets = 16384, order = 5)),

    // BPE-apply over the default merge list: every doc encoded to
    // engine-neutral token ids (codepoint / 0x110000+rank) through the
    // graft_bpe native expression — one narrow per-row call, zero
    // exchanges at any corpus size. Output is the per-doc id-stream
    // fingerprint so the gate checks every id at every position.
    "d37_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d), "text")
        .select(col("doc_id"), size(col("bpe_ids")).as("n_bpe"),
          md5(concat_ws(" ",
            transform(col("bpe_ids"), x => x.cast("string")))).as("ids_md5"))),

    // The modern-web recipe composed end to end: Gopher gate -> line
    // dedup (the d40 banner plant keeps the stage non-vacuous) ->
    // perplexity scoring against the %97 in-domain slice -> CCNet
    // head+middle selection -> sequence packing. Every stage's output
    // feeds the next over CLEANED text.
    "p08_web_pipeline" -> ((s, d) => {
      val planted = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 50 === 0,
          concat(lit("subscribe to our newsletter\ncookie policy\n"),
            col("text"))).otherwise(col("text")))
      graft.operators.Pipeline.webCurationPipelineWithRelease(planted,
        "text", "doc_id", col("doc_id") % 97 === 0)._1
    }),

    // Decontamination surgery: the d23 plant (ProbePassage appended to
    // every 13th corpus doc, bench = the %97 slice + the probe), but
    // the contaminated spans are STRIPPED and the text reassembled
    // instead of the document being flagged — the keep-the-document
    // removal policy. Affected docs must come back with exactly the
    // probe tokens gone.
    "d41_strip_contaminated" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" " + ProbePassage))).otherwise(col("text")))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
        .union(Seq((-1L, ProbePassage)).toDF("doc_id", "text"))
      Dedup.stripContaminatedSpans(corpus, bench, "text", "doc_id",
          spanTokens = 8)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // Corpus-wide line dedup (the C4/RefinedWeb boilerplate pass):
    // every line repeated anywhere in the corpus keeps its canonical
    // (min id:index) copy, all other occurrences stripped; affected
    // docs come back reassembled. Line hashes only in the corpus
    // exchanges; text joins back once. The fixture's synthetic lines
    // are corpus-unique, so the gate PLANTS the boilerplate the pass
    // exists for — a deterministic two-line banner prefixed onto every
    // 50th document (mirrored in the oracle) — and would go vacuous
    // (0 rows) without it.
    "d40_line_dedup" -> ((s, d) => {
      val planted = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 50 === 0,
          concat(lit("subscribe to our newsletter\ncookie policy\n"),
            col("text"))).otherwise(col("text")))
      Dedup.stripDuplicatedLines(planted, "text", "doc_id")
        .select(col("doc_id"), col("n_removed_lines"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // Incremental new-batch-vs-corpus near-dup (the production ingest
    // shape): the corpus's MinHash-LSH bands persist once as a
    // band-bucketed index table (75% of docs), then the remaining 25%
    // arrives as a "new batch" — probed against the EXISTING index for
    // verdicts (bucket-pruned scan, batch side broadcast), appended
    // idempotently, and the append REPLAYED to prove absorption.
    // Near-copies planted across the index/batch boundary: every
    // doc_id % 20 == 0 doc (batch side) becomes its index-side
    // successor's text plus a tail. Verdicts materialize BEFORE the
    // appends (the w05 discipline — the probe plan reads the table the
    // appends extend).
    "d44_incremental_neardup" -> ((s, d) => {
      val (planted, idxSet, batch) = boundarySplit(Tables.documents(s, d))
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "d44", d)
      bandIndex(idxSet, tbl)
      val out = Scratch.dir("d44", d) + "/verdicts"
      Dedup.probeBandIndex(s, tbl, batch, "text", "doc_id",
          k = 6, bandWidth = 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_index_candidates"))
        .write.mode("overwrite").parquet(out)
      Dedup.appendToBandIndex(batch, tbl, "text", "doc_id",
        k = 6, bandWidth = 2)
      val afterFirst = s.table(tbl).count()
      require(afterFirst == planted.count() * 3,
        s"d44: index must hold 3 bands per doc after the append, " +
          s"saw $afterFirst")
      Dedup.appendToBandIndex(batch, tbl, "text", "doc_id",
        k = 6, bandWidth = 2)
      require(s.table(tbl).count() == afterFirst,
        "d44: replayed batch was re-appended")
      s.read.parquet(out)
    }),

    // Band-index compaction (d51): the d44 fixture delivered as TWO
    // append batches, so each bucket holds up to three task-aligned
    // file sets (build + 2 deliveries) and the probe's pruned scan
    // opens one file per DELIVERY per bucket; compaction rewrites to
    // one file per bucket (layout read from the catalog, atomic
    // staging swap) and must be verdict-neutral — the post-compaction
    // probe of the batch against the full index hash-matches the
    // mirror computed over the raw banded pairs.
    "d51_band_compaction" -> ((s, d) => {
      val (_, idxSet, batch) = boundarySplit(Tables.documents(s, d))
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "d51", d)
      bandIndex(idxSet, tbl)
      Dedup.appendToBandIndex(batch.filter(col("doc_id") % 8 === 0), tbl,
        "text", "doc_id", k = 6, bandWidth = 2)
      Dedup.appendToBandIndex(batch.filter(col("doc_id") % 8 =!= 0), tbl,
        "text", "doc_id", k = 6, bandWidth = 2)
      val rowsBefore = s.table(tbl).count()
      val filesBefore = BucketedStore.fileCount(s, tbl)
      require(filesBefore > 8,
        s"d51: three deliveries must leave more file sets than buckets, " +
          s"saw $filesBefore")
      Dedup.compactBandIndex(s, tbl)
      require(BucketedStore.fileCount(s, tbl) <= 8,
        "d51: compaction must leave at most one file per bucket")
      require(s.table(tbl).count() == rowsBefore,
        "d51: compaction with no tombstones must be row-neutral")
      Dedup.probeBandIndex(s, tbl, batch, "text", "doc_id",
          k = 6, bandWidth = 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_index_candidates"))
    }),

    // Incremental near-dup resolution at ingest (d52): the d44 + d42
    // composition. The batch arrives as two doc_id % 8 slices; each
    // slice's docs are probed against the index AS IT STANDS, and the
    // keep-the-best policy (score desc, id asc — score is a
    // deterministic pseudo-quality (doc_id*37) % 100 so both outcomes
    // occur) resolves every near-dup across the boundary: winners are
    // appended and TOMBSTONE their index-side candidates (dead to the
    // later slice's probe), losers are dropped. Compaction then
    // applies the tombstones physically — the row-count identity pins
    // exactly 3 bands removed per superseded doc.
    "d52_ingest_resolve" -> ((s, d) => {
      val (_, idxSet, batchDocs) = boundarySplit(Tables.documents(s, d))
      val score = (col("doc_id") * 37) % 100
      val batch = batchDocs.withColumn("q", score)
      val scores = Tables.documents(s, d)
        .select(col("doc_id"), score.as("q"))
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "d52", d)
      bandIndex(idxSet, tbl)
      val idxDocs = idxSet.count()
      val r1 = Dedup.ingestResolveNearDups(s, tbl,
        batch.filter(col("doc_id") % 8 === 0), "text", "doc_id", "q",
        scores, k = 6, bandWidth = 2)
      val r2 = Dedup.ingestResolveNearDups(s, tbl,
        batch.filter(col("doc_id") % 8 =!= 0), "text", "doc_id", "q",
        scores, k = 6, bandWidth = 2)
      val kept = r1.filter(col("kept")).count() +
        r2.filter(col("kept")).count()
      require(s.table(tbl).count() == (idxDocs + kept) * 3,
        "d52: index must hold 3 bands per index doc + per kept batch doc")
      val tombN = s.table(BucketedStore.tombstoneTable(tbl)).count()
      val rowsBefore = s.table(tbl).count()
      Dedup.compactBandIndex(s, tbl)
      require(s.table(tbl).count() == rowsBefore - tombN * 3,
        "d52: compaction must remove exactly the tombstoned docs' bands")
      require(s.table(BucketedStore.tombstoneTable(tbl)).count() == 0,
        "d52: compaction must truncate the applied tombstones")
      r1.unionByName(r2)
    }),

    // The full modern-stack ingest capstone (p12): one new batch (the
    // doc_id % 4 == 0 quarter) pushed through EVERY r14/r15 component
    // in production order — URL canonicalize + exact-URL dedup within
    // the batch (d45) -> bloom exact-membership vs the corpus, verified
    // members dropped (d49) -> band-index near-dup vs the corpus, docs
    // with live candidates dropped (d44) -> NB classifier gate (d47) ->
    // order-5 LM scored against the corpus in-domain slice, CCNet
    // head+middle kept (d46/p09) -> PageRank-weighted per-domain quota
    // (p11) -> 512-token sequence packing (d16). Dedup verdicts are
    // computed on the PLANTED text (markers first, then the %20
    // boundary near-copies, then the %8 exact copies — so the copies
    // carry their source's markers verbatim and exact membership
    // survives marking); every post-dedup stage re-reads the survivor's
    // text from the marked STORE by id — the production split between
    // content-normalized verdicts and the document store. Artifacts
    // (bloom bitmap, band index, NB stats, LM stats, PageRank caps) are
    // each built once by construction: the stats localize through
    // their config-sized driver hops, the index is a catalog table,
    // and the batch-side frames persist/checkpoint at each verdict
    // boundary so no stage re-runs an upstream one.
    "p12_curation_capstone" -> ((s, d) => {
      val (marked, corpus, batch0, releaseFixture) = capstoneFixture(s, d)
      // stage 1: URL canonicalize + exact-URL dedup within the batch
      // (pathDiv 40: 2-way recrawl groups over the quarter-batch)
      val s1 = graft.operators.UrlOps.dropUrlDuplicates(
          batch0.withColumn("url", syntheticUrlWith(40)), "url", "doc_id")
        .withColumn("domain", graft.operators.UrlOps.urlDomain(col("curl")))
        .persist()
      // stage 2: bloom exact-membership vs the corpus (verified truth)
      val mem = Dedup.exactMembership(corpus, s1, "text", "doc_id",
        mBits = 1 << 16, k = 3)
      val s2 = s1.join(mem.filter(!col("is_member")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      // stage 3: band-index near-dup vs the corpus
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "p12", d)
      bandIndex(corpus, tbl)
      val nd = Dedup.probeBandIndex(s, tbl, s2, "text", "doc_id",
        k = 6, bandWidth = 2)
      val s3 = s2.join(nd.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
        .select("doc_id", "domain").localCheckpoint(true)
      s1.unpersist(blocking = false)
      releaseFixture()
      capstoneFinish(s, d, marked, s3)
    }),

    // The capstone's INGEST HALF streamed (w12): the batch quarter
    // arrives as two ASCENDING-doc_id slices plus a REPLAY of slice 0
    // (the w09 convention — ascending slices make min-id-per-curl URL
    // dedup prefix-decidable), each micro-batch pushed through URL
    // dedup (within-slice + a seen-curl index for cross-slice dups),
    // bloom exact-membership vs the pre-built corpus bitmap, and the
    // band-index probe, survivors accumulated idempotently; the
    // corpus-global finish (classifier quantile -> LM thirds -> quota
    // -> pack) runs once the stream drains — the w09 nightly-scoring
    // split applied to the full modern stack. The replay contributes
    // nothing (its curls are already indexed); the sink equals the
    // one-shot p12 survivor set row for row, so the oracle IS the p12
    // mirror.
    "w12_stream_capstone" -> ((s, d) => {
      val loc = Scratch.dir("w12", d)
      val (marked, corpus, batch0, releaseFixture) = capstoneFixture(s, d)
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "w12", d)
      bandIndex(corpus, tbl)
      // the corpus bitmap builds ONCE, localized — every slice probes
      // the same driver-local artifact (production would mergeBloomInto)
      val bloom = TextAnalysis.localizeStats(Dedup.buildBloom(
        corpus.select(md5(col("text")).as("fp")), "fp",
        mBits = 1 << 16, k = 3))
      // every per-delivery lookup side PERSISTS as a key-bucketed
      // table (the d55 device), so a micro-batch reads NO corpus-sized
      // frame: the bloom's false positives verify against the corpus
      // FINGERPRINT table (built once, probed bucket-pruned — the old
      // shape re-derived the marked corpus and scanned it per slice),
      // cross-slice URL dups probe the CURL table, and first-delivery
      // accumulation is the keyed append's pruned idempotence on the
      // SURVIVOR table (the old parquet sinks re-read their whole
      // accumulation per slice)
      val fpTbl = Scratch.catalogTable(s, "graft_keyed", "w12fp", d)
      val sinkTbl = Scratch.catalogTable(s, "graft_keyed", "w12s", d)
      val curlTbl = Scratch.catalogTable(s, "graft_keyed", "w12c", d)
      Dedup.buildFingerprintTable(corpus, "text", fpTbl, buckets = 8)
      emptyKeyedSink(batch0.select(col("doc_id"), lit("").as("domain")),
        "doc_id", sinkTbl)
      emptyKeyedSink(batch0.select(lit("").as("curl")), "curl", curlTbl)
      // documents ids are dense 0..n-1, so n/2 splits the id range;
      // two ascending slices + slice 0 redelivered last
      val median = Tables.documents(s, d).count() / 2
      val slice0 = batch0.filter(col("doc_id") < median)
      val slices = Seq(slice0, batch0.filter(col("doc_id") >= median),
        slice0)
      StreamSlices.replay(s, loc, "w12", slices) { b =>
        val bs = b.sparkSession  // the w08 cloned-session discipline
        // URL stage: within-slice min-id dedup, then cross-slice dups
        // dropped against the seen-curl TABLE — a bucket-pruned point
        // probe by the slice's curls (survivors' curls only: a
        // within-slice dup shares its keeper's curl, so index grain
        // is exactly "curl has a keeper already")
        val s1all = graft.operators.UrlOps.dropUrlDuplicates(
            b.withColumn("url", syntheticUrlWith(40)), "url", "doc_id")
          .withColumn("domain",
            graft.operators.UrlOps.urlDomain(col("curl")))
        val seen = Dedup.probeKeyedTable(bs, curlTbl,
          s1all.select(col("curl")), "curl")
        val s1 = s1all
          .join(broadcast(seen.select(col("curl"))), Seq("curl"),
            "left_anti")
          .persist()
        s1.count()
        // bloom stage: probe the shared bitmap, settle the candidate
        // minority against the fingerprint table — bucket-pruned point
        // lookups, never a corpus scan (the old shape re-derived the
        // marked corpus per slice and read it whole)
        val mem = Dedup.exactMembershipViaTable(bs, fpTbl, s1, "text",
          "doc_id", bloom, mBits = 1 << 16, k = 3)
        val s2 = s1.join(mem.filter(col("is_member")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        // band stage vs the corpus index
        val nd = Dedup.probeBandIndex(bs, tbl, s2, "text", "doc_id",
          k = 6, bandWidth = 2)
        val s3 = s2.join(nd.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti").select("doc_id", "domain")
        // idempotent accumulation via the keyed appends' bucket-pruned
        // anti-joins (verdicts first, then the curl index). The curl
        // append reuses THIS batch's `seen` probe as its idempotence
        // set: the probe covered every batch curl (s1all ⊇ s1), so the
        // probe+append pair stops reading the same buckets twice per
        // delivery (guide §1.2)
        Dedup.appendToKeyedTable(s3, sinkTbl, "doc_id")
        Dedup.appendProbedToKeyedTable(
          s1.select(col("curl")).distinct(), curlTbl, "curl", seen)
        s1.unpersist()
        ()
      }
      releaseFixture()
      // the appends refreshed the CLONED sessions' caches only (w08)
      s.catalog.refreshTable(sinkTbl)
      capstoneFinish(s, d, marked,
        s.table(sinkTbl).localCheckpoint(true))
    }),

    // URL/domain-grain curation: canonicalize (scheme/host lowercase,
    // query+fragment strip) -> exact URL dedup keeping the min-id copy
    // -> 3-doc quota per domain through the d17 two-level machinery
    // (documents is 500 rows at the sf0.01 gate, so 5 survivors per
    // domain — the cap must sit BELOW that to be non-vacuous).
    // The url column is synthesized deterministically from doc_id (the
    // d40 banner device): 20 domains, paths shared by doc_id div 100
    // within a domain (5-way URL dup groups), with case noise on
    // scheme/host and tracking-param/fragment noise to strip.
    "d45_url_curation" -> ((s, d) =>
      graft.operators.UrlOps.curateUrls(
          Tables.documents(s, d).withColumn("url", syntheticUrl),
          "url", "doc_id", cap = 3)
        .select("doc_id", "curl", "domain")),

    // The d45 + d48 composition (p11): per-domain quotas WEIGHTED by
    // link-graph centrality — high-rank domains admit more pages, the
    // teleport-floor tail caps near zero. cap = rank_q div 3e8, the
    // integer-scaled reputation prior; the quota machinery is the
    // same two-level prefix-bucket scan, caps broadcast at host-graph
    // grain.
    "p11_ranked_quota" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val caps = GraphOps.pageRank(syntheticEdges(docs), "src", "dst",
          iters = 8)
        .select(concat(col("node"), lit(".example.com")).as("domain"),
          expr("rank_q div 300000000").as("cap"))
      graft.operators.UrlOps.curateUrlsWeighted(
          docs.withColumn("url", syntheticUrl), "url", "doc_id", caps)
        .select("doc_id", "curl", "domain")
    }),

    // Bloom-filter exact-membership ingest (the d44 complement at the
    // EXACT-dup grain): the 3/4 corpus aggregates once to a 64k-bit
    // k=3 bitmap (config-sized, broadcast), the 1/4 batch probes it,
    // and the bloom's deterministic false-positive minority settles
    // through the verifying join — corpus side touched once,
    // projected to 32-hex fingerprints, shuffling nothing. Planted
    // exact copies: every doc_id % 8 == 0 batch doc carries its
    // corpus-side successor's text, so `is_member` is non-vacuously
    // true across the boundary.
    "d49_bloom_membership" -> ((s, d) => {
      val (corpus, batch) = bloomFixture(Tables.documents(s, d))
      Dedup.exactMembership(corpus, batch, "text", "doc_id",
        mBits = 1 << 16, k = 3)
    }),

    // d49's verify side PERSISTED (d55): the corpus fingerprint set
    // lives as a key-bucketed catalog table, and the bloom's candidate
    // minority is settled by bucket-pruned point lookups (asserted,
    // checkpointed) instead of a per-call corpus scan — the
    // per-DELIVERY shape the streamed flows (w10/w11/w12) run on,
    // where the one-shot d49 amortizes its corpus read over a single
    // large batch. Output identical to d49 (same fixture, same bloom,
    // same truth — the oracle IS the d49 mirror); the gate
    // additionally exercises the table lifecycle in-engine: the
    // batch's fingerprints fold in idempotently (growth = exactly the
    // non-member keys, replay appends nothing), and a post-append
    // probe confirms every batch doc a member.
    "d55_fingerprint_membership" -> ((s, d) => {
      val (corpus, batch) = bloomFixture(Tables.documents(s, d))
      val tbl = Scratch.catalogTable(s, "graft_keyed", "d55", d)
      Dedup.buildFingerprintTable(corpus, "text", tbl, buckets = 8)
      val bloom = graft.operators.TextAnalysis.localizeStats(
        Dedup.buildBloom(corpus.select(md5(col("text")).as("fp")), "fp",
          mBits = 1 << 16, k = 3))
      // pin the verdicts BEFORE the lifecycle exercise mutates the table
      val out = Dedup.exactMembershipViaTable(s, tbl, batch, "text",
        "doc_id", bloom, mBits = 1 << 16, k = 3).localCheckpoint(true)
      val batchFps = batch.select(md5(col("text")).as("fp")).distinct()
        .localCheckpoint(true)
      val present =
        Dedup.probeKeyedTable(s, tbl, batchFps, "fp").count()
      val before = s.table(tbl).count()
      Dedup.appendToKeyedTable(batchFps, tbl, "fp")
      require(s.table(tbl).count() == before + batchFps.count() - present,
        "d55: append growth must be exactly the non-member keys")
      Dedup.appendToKeyedTable(batchFps, tbl, "fp")
      require(s.table(tbl).count() == before + batchFps.count() - present,
        "d55: replayed append must contribute nothing")
      require(Dedup.probeKeyedTable(s, tbl, batchFps, "fp").count()
          == batchFps.count(),
        "d55: every batch fingerprint must probe present post-append")
      // compaction: the delivery stacked its own file set — the
      // zero-shuffle rewrite folds back to one file per bucket,
      // row-neutral, probes unchanged
      require(BucketedStore.fileCount(s, tbl) > 8,
        "d55: the append should have stacked a second file set")
      val rowsBefore = s.table(tbl).count()
      Dedup.compactKeyedTable(s, tbl, "fp")
      require(BucketedStore.fileCount(s, tbl) <= 8,
        "d55: compaction must leave at most one file per bucket")
      require(s.table(tbl).count() == rowsBefore,
        "d55: keyed compaction must be row-neutral")
      require(Dedup.probeKeyedTable(s, tbl, batchFps, "fp").count()
          == batchFps.count(),
        "d55: probes must be unchanged after compaction")
      out
    }),

    // BPE round-trip (d50): every distinct corpus word encodes
    // (graft_bpe) and decodes (graft_bpe_decode) back to itself — the
    // engine-neutral id scheme is lossless at word grain (the stream
    // drops whitespace by design, so word IS the round-trip grain).
    // Both directions are narrow codegen'd per-row calls; the only
    // exchange is the vocabulary groupBy.
    "d50_bpe_roundtrip" -> ((s, d) => {
      val hist = TextAnalysis.bpeWordHistogram(Tables.documents(s, d), "text")
      TextAnalysis.bpeDecode(
          TextAnalysis.bpeEncode(hist, "w", outCol = "ids"), "ids")
        .select(col("w"), size(col("ids")).as("n_ids"), col("decoded"),
          (col("decoded") === col("w")).as("roundtrip_ok"))
    }),

    // Byte-level BPE (d53): the published GPT-2 scheme — UTF-8 bytes
    // through the 256-symbol mapped alphabet, space runs attached to
    // the following word ('Ġ'-prefixed tokens), the opening merges of
    // the PUBLIC GPT-2 vocab.bpe applied verbatim (artifact
    // compatibility), whole-text-lossless decode pinned by an
    // in-engine require, and the full id stream hash-matched against
    // an independent recursive-SQL mirror that re-derives the byte
    // decomposition from hex(encode(text)).
    "d53_bpe_byte_level" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ms = TextAnalysis.gpt2ByteMergesPrefix
      val enc = TextAnalysis.bpeEncode(docs, "text", ms, byteLevel = true)
      val bad = TextAnalysis.bpeDecode(enc, "bpe_ids", ms, byteLevel = true)
        .filter(col("decoded") =!= col("text")).count()
      require(bad == 0,
        s"d53: byte-level decode must be lossless, $bad docs diverged")
      enc.select(col("doc_id"), size(col("bpe_ids")).as("n_bpe"),
        md5(concat_ws(" ",
          transform(col("bpe_ids"), x => x.cast("string")))).as("ids_md5"))
    }),

    // Domain-graph centrality (d48): fixed-point integer PageRank at
    // the published 0.85 damping, 8 iterations, over a deterministic
    // synthetic site-level link graph (the d45 fixture's 20 domains;
    // dst mixes doc_id and doc_id div 20 so the graph is irregular).
    // The domain-grain quality prior CommonCrawl-style stacks feed
    // into URL filtering — composable with d45's per-domain quotas.
    "d48_domain_pagerank" -> ((s, d) =>
      GraphOps.pageRank(syntheticEdges(Tables.documents(s, d)),
          "src", "dst", iters = 8)
        .select(col("node").as("domain"), col("rank_q"))),

    // BPE merge-list training: 8 iterations of count-pairs -> take the
    // most frequent -> re-segment, over the documents corpus — the
    // trained artifact d37/p07 apply. A driver loop over the persisted
    // word histogram (one corpus scan + merges x vocab-sized jobs);
    // output is the merge list itself.
    "d39_bpe_train" -> ((s, d) => {
      val ms = TextAnalysis.trainBpeMerges(
        Tables.documents(s, d), "text", numMerges = 8)
      import s.implicits._
      ms.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
    }),

    // d39's training loop in BYTE mode (d54): the same iterate-count-
    // take-best-re-segment driver loop, but over the space-attached
    // chunk histogram through the 256-symbol mapped alphabet
    // (graft_bpe_bytes_pairs) — what it learns on a natural-language
    // corpus is a published-FORMAT byte merge list ('Ġ'-prefixed
    // whitespace merges included), directly loadable by
    // graft_bpe_bytes. Mirrored by the same unrolled dynamic replay
    // with the byte seed segmentation.
    "d54_bpe_byte_train" -> ((s, d) => {
      val ms = TextAnalysis.trainBpeMerges(
        Tables.documents(s, d), "text", numMerges = 8, byteLevel = true)
      import s.implicits._
      ms.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
    }),

    // d44's ingest flow STREAMED (the w07 pattern): the batch quarter
    // of the corpus arrives as three doc_id % 3 file slices plus a
    // REPLAY of slice 0, each micro-batch probed against the index as
    // it stood when the batch arrived (prior slices included — the
    // true incremental semantic), verdicts accumulated idempotently
    // (anti-join on doc_id against the sink), bands appended
    // idempotently. The replayed slice must contribute nothing to
    // either table.
    "w08_band_stream_dedup" -> ((s, d) => {
      val loc = Scratch.dir("w08", d)
      val (planted, idxSet, batchAll) =
        boundarySplit(Tables.documents(s, d))
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "w08", d)
      bandIndex(idxSet, tbl)
      // the accumulating verdict sink is a doc_id-bucketed keyed
      // table (the d55 device): first-delivery accumulation is the
      // keyed append's bucket-pruned idempotence, not a full sink
      // re-read per slice
      val sinkTbl = Scratch.catalogTable(s, "graft_keyed", "w08", d)
      emptyKeyedSink(
        batchAll.select(col("doc_id"), lit(0L).as("n_prior_candidates")),
        "doc_id", sinkTbl)
      // three slices in doc_id % 3 order + slice 0 redelivered last
      StreamSlices.replay(s, loc, "w08",
          StreamSlices.residueSlices(batchAll, "doc_id")) { b =>
        // every read/refresh inside the batch goes through the BATCH's
        // session: foreachBatch runs under a cloned session, and a
        // refreshTable there does not invalidate the OUTER session's
        // cached file listing — planning the probe against the outer
        // session would read a stale index snapshot from slice 1 on
        val bs = b.sparkSession
        // EVERY delivered doc gets its first-delivery verdict recorded,
        // zero-candidate docs included: without the coalesce-0 row a
        // zero-candidate doc is missing from the sink, so its REPLAY
        // re-probes against the by-then-bigger index and can acquire
        // late candidates (surfaced by the sf0.1 sweep: 11 such docs)
        val counts = Dedup.probeBandIndex(bs, tbl, b, "text", "doc_id",
            k = 6, bandWidth = 2)
          .groupBy("doc_id").agg(count(lit(1)).as("n_prior_candidates"))
        val verdicts = b.select("doc_id").distinct()
          .join(counts, Seq("doc_id"), "left")
          .withColumn("n_prior_candidates",
            coalesce(col("n_prior_candidates"), lit(0L)))
        // first-delivery verdicts: the keyed append's bucket-pruned
        // idempotence (it persists + materializes before writing)
        Dedup.appendToKeyedTable(verdicts, sinkTbl, "doc_id")
        Dedup.appendToBandIndex(b, tbl, "text", "doc_id",
          k = 6, bandWidth = 2)
      }
      // the appends refreshed the CLONED session's caches; invalidate
      // the outer session's listing before it reads the grown table
      s.catalog.refreshTable(tbl)
      require(s.table(tbl).count() == planted.count() * 3,
        "w08: replayed slice was re-appended or a slice was dropped")
      s.catalog.refreshTable(sinkTbl)
      s.table(sinkTbl)
    }),

    // d49's ingest flow STREAMED: the corpus bitmap persists once,
    // the batch quarter arrives as three doc_id % 3 slices plus a
    // REPLAY of slice 0; each micro-batch is probed against the bloom
    // AS OF ARRIVAL (prior slices folded in — the true incremental
    // semantic: a slice-1 doc duplicating a slice-0 doc probes true),
    // verdicts accumulate idempotently (anti-join), and the batch's
    // bits fold in by per-word OR — where the replay needs NO
    // bookkeeping at all: OR is idempotent, so redelivery leaves the
    // artifact bit-identical by algebra, which the gate proves by
    // comparing against the one-shot bitmap over corpus + batch.
    "w10_bloom_stream" -> ((s, d) => {
      val loc = Scratch.dir("w10", d)
      val (corpus, batchAll) = bloomFixture(Tables.documents(s, d))
      // Scratch.dir wipes on entry: fresh artifact per run
      val bloomPath = s"$loc/bloom"
      Dedup.mergeBloomInto(bloomPath,
        corpus.select(md5(col("text")).as("__key")), "__key",
        mBits = 1 << 16, k = 3)
      // the verdict sink is a doc_id-bucketed keyed table: the
      // first-delivery-wins accumulation IS appendToKeyedTable's
      // idempotence, whose existence check is bucket-pruned by the
      // batch's ids — O(batch) per delivery, where the old parquet
      // sink's anti-join re-READ the whole accumulated sink per slice
      // (delivery cost ∝ corpus once the sink has absorbed it)
      val sinkTbl = Scratch.catalogTable(s, "graft_keyed", "w10", d)
      emptyKeyedSink(
        batchAll.select(col("doc_id"), lit(false).as("maybe_member")),
        "doc_id", sinkTbl)
      // three doc_id % 3 slices + slice 0 redelivered last, with
      // compaction UNDER LIVE TRAFFIC, keyed grain (the d51 story at
      // the point-lookup grain): after the second slice, rewrite the
      // sink back to one file per bucket mid-stream — the remaining
      // slice + replay then probe, append to, and finally read the
      // COMPACTED table, and the gate's oracle must not move
      StreamSlices.replay(s, loc, "w10",
          StreamSlices.residueSlices(batchAll, "doc_id"))(
        StreamSlices.compactingAfterSecond("w10", sinkTbl)(
            Dedup.compactKeyedTable(_, sinkTbl, "doc_id")) { b =>
          val bs = b.sparkSession
          val keyed = b.select(col("doc_id"), md5(col("text")).as("__key"))
          // probe BEFORE merging: the verdict reflects the artifact as
          // the batch arrived, not including the batch itself
          val probed = Dedup.probeBloom(keyed, "__key", "doc_id",
              Dedup.loadBloom(bs, bloomPath), mBits = 1 << 16, k = 3)
          // first-delivery verdicts: the keyed append's bucket-pruned
          // anti-join (it persists + materializes the batch internally
          // before writing — the w05 discipline is the device's own)
          Dedup.appendToKeyedTable(probed, sinkTbl, "doc_id")
          Dedup.mergeBloomInto(bloomPath, keyed, "__key",
            mBits = 1 << 16, k = 3)
        })
      // replay absorbed by algebra: the streamed artifact must be
      // bit-identical to the one-shot bitmap over corpus + batch
      val oneShot = graft.operators.TextAnalysis.localizeStats(
        Dedup.buildBloom(corpus.select(md5(col("text")).as("__key"))
          .unionByName(batchAll.select(md5(col("text")).as("__key"))),
          "__key", mBits = 1 << 16, k = 3))
      val streamed = Dedup.loadBloom(s, bloomPath)
      require(streamed.exceptAll(oneShot).isEmpty
          && oneShot.exceptAll(streamed).isEmpty,
        "w10: streamed bloom diverged from the one-shot bitmap")
      // the appends refreshed the CLONED sessions' caches only (w08)
      s.catalog.refreshTable(sinkTbl)
      s.table(sinkTbl)
    }),

    // d52's resolve-at-ingest flow STREAMED (the w08 device): the
    // batch quarter arrives as its two doc_id % 8 slices plus a
    // REPLAY of slice 0, each micro-batch pushed through
    // ingestResolveNearDups against the index AS IT STANDS —
    // slice-1 docs see slice-0 winners as live candidates and
    // slice-0 tombstones as dead — with first-delivery verdicts
    // accumulated idempotently (anti-join on doc_id against the
    // sink). The replay must contribute nothing anywhere: verdict
    // rows absorbed by the anti-join, appends/tombstones absorbed by
    // the operator's own idempotence (a replayed winner finds itself
    // index-resident and its candidates tombstoned; a replayed loser
    // loses again; band-sharing is symmetric, so no replayed winner
    // can acquire a late candidate — if it shared a band with a
    // slice-1 winner, that doc would have lost to it at delivery).
    // The sink therefore equals the one-shot two-slice d52 run row
    // for row: the oracle IS the d52 mirror.
    "w11_resolve_stream" -> ((s, d) => {
      val loc = Scratch.dir("w11", d)
      val (_, idxSet, batchAll) = boundarySplit(Tables.documents(s, d))
      val score = (col("doc_id") * 37) % 100
      val tbl = Scratch.catalogTable(s, "graft_bandidx", "w11", d)
      bandIndex(idxSet, tbl)
      val idxDocs = idxSet.count()
      // the score side PERSISTED (the d55 device): seeded with the
      // index docs' scores, maintained by the operator itself (each
      // delivery's winners append idempotently) — so each micro-batch
      // looks its candidates' scores up bucket-pruned instead of
      // scanning a corpus-sized score frame per delivery; the verdict
      // sink is a keyed table for the same reason (the accumulation
      // anti-join was a full sink read per slice)
      val scoreTbl = Scratch.catalogTable(s, "graft_keyed", "w11s", d)
      val sinkTbl = Scratch.catalogTable(s, "graft_keyed", "w11", d)
      Dedup.buildKeyedTable(idxSet.select(col("doc_id"), score.as("q")),
        "doc_id", scoreTbl, buckets = 8)
      emptyKeyedSink(batchAll.select(col("doc_id"),
          lit(0L).as("n_candidates"), lit(true).as("kept"),
          lit(0L).as("n_superseded")),
        "doc_id", sinkTbl)
      // the two doc_id % 8 slices + slice 0 redelivered last
      val slice0 = batchAll.filter(col("doc_id") % 8 === 0)
      val slices = Seq(slice0, batchAll.filter(col("doc_id") % 8 =!= 0),
        slice0)
      StreamSlices.replay(s, loc, "w11", slices) { b =>
        val bs = b.sparkSession  // the w08 cloned-session discipline
        // candidate scores come back bucket-pruned from the score
        // table; NO corpus-sized frame is read in this delivery
        val resolved = Dedup.ingestResolveNearDupsIndexed(bs, tbl,
          b.withColumn("q", score), "text", "doc_id", "q", scoreTbl,
          k = 6, bandWidth = 2)
        // first-delivery verdicts: the keyed append's bucket-pruned
        // idempotence (resolved is checkpointed by the operator)
        Dedup.appendToKeyedTable(resolved, sinkTbl, "doc_id")
        ()
      }
      s.catalog.refreshTable(tbl)
      s.catalog.refreshTable(sinkTbl)
      val out = s.table(sinkTbl)
      val kept = out.filter(col("kept")).count()
      require(s.table(tbl).count() == (idxDocs + kept) * 3,
        "w11: index must hold 3 bands per index doc + per kept batch " +
          "doc (replay must not re-append)")
      val tombN = s.table(BucketedStore.tombstoneTable(tbl)).count()
      val rowsBefore = s.table(tbl).count()
      Dedup.compactBandIndex(s, tbl)
      require(s.table(tbl).count() == rowsBefore - tombN * 3,
        "w11: compaction must remove exactly the tombstoned docs' bands")
      out
    }),

    // Incremental LM-stats maintenance STREAMED (w13): w09's nightly
    // scoring rebuilds lmStats from scratch each night because counts
    // are additive but NOT replay-idempotent (the bloom's OR absorbs a
    // redelivery by algebra; a count doubles) — the StatsStore closes
    // that: each micro-batch writes its config-sized partial to an
    // immutable delivery-keyed partition (layout-absorbed replay),
    // compaction folds partials into one base with the absorbed ids
    // manifested (manifest-absorbed replay), and the rollup equals the
    // one-shot stats bit for bit — the oracle mirrors the one-shot
    // transition counts directly. The corpus arrives as three
    // doc_id % 3 slices plus a REPLAY of slice 0 (the w08 device);
    // delivery identity is content-keyed (the slice's residue class —
    // production's file/partition key), since the streaming batchId
    // numbers a redelivered file as a fresh batch.
    "w13_stream_lm_stats" -> ((s, d) => {
      val loc = Scratch.dir("w13", d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val store = s"$loc/lmstore"
      val slices = StreamSlices.residueSlices(docs, "doc_id")
      StreamSlices.replay(s, loc, "w13", slices) { b =>
        // content-keyed delivery identity: the slice's residue class
        val sl = graft.operators.DriverBounded.collectCapped(
          b.select((col("doc_id") % 3).as("s")).distinct(), 4,
          "w13: slice classes exceed bound")
        require(sl.length == 1,
          s"w13: each delivery must be one slice, saw ${sl.length} classes")
        graft.operators.StatsStore.writeDelivery(store,
          s"slice${sl(0).getLong(0)}",
          graft.operators.TextAnalysis.lmStats(b, "text",
            ctxBuckets = 1024, pairBuckets = 16384))
      }
      graft.operators.StatsStore.compact(s, store, Seq("kind", "bucket"))
      // POST-compaction replay: the partition is gone — the manifest
      // must absorb it (this is exactly the double-count hazard)
      graft.operators.StatsStore.writeDelivery(store, "slice0",
        graft.operators.TextAnalysis.lmStats(slices.head, "text",
          ctxBuckets = 1024, pairBuckets = 16384))
      graft.operators.StatsStore.readStats(s, store, Seq("kind", "bucket"))
    }),

    // Incremental NB-stats maintenance (d56): the d47 classifier's
    // training counts maintained by the same store, one-shot form —
    // the labeled slice folds in as two halves, each half replayed
    // once (one before compaction, absorbed by layout; one after,
    // absorbed by the manifest), and the rollup must equal the
    // one-shot nbStats artifact the d47 mirror computes (tstat rows
    // plus the bucket = -1 prior row).
    "d56_nb_stats_incremental" -> ((s, d) => {
      val marked = markedDocs(Tables.documents(s, d))
      val train = marked.filter(col("doc_id") % 5 === 0)
        .withColumn("pos", col("doc_id") % 10 === 0)
      val store = Scratch.dir("d56", d) + "/nbstore"
      def half(i: Int) = train.filter(col("doc_id") % 10 === i * 5)
      // halves by doc_id % 10: residue 0 (the positives) and 5
      def stats(i: Int) = graft.operators.TextAnalysis.nbStats(
        half(i), "text", "pos", buckets = 4096)
      graft.operators.StatsStore.writeDelivery(store, "halfA", stats(0))
      graft.operators.StatsStore.writeDelivery(store, "halfB", stats(1))
      graft.operators.StatsStore.writeDelivery(store, "halfA", stats(0))
      graft.operators.StatsStore.compact(s, store, Seq("bucket"))
      graft.operators.StatsStore.writeDelivery(store, "halfB", stats(1))
      graft.operators.StatsStore.readStats(s, store, Seq("bucket"))
    }),

    // Streaming curation end to end (the capstone): the p08 corpus
    // arrives as four ASCENDING-doc_id slices plus a REPLAY of slice 1
    // (the w05 convention); each micro-batch runs the Gopher gate and
    // the incremental line dedup against the accumulated line-hash
    // index (ascending slices make the one-shot canonical-site
    // semantics prefix-decidable), appending its clean rows and new
    // hashes idempotently; the corpus-global finish (LM score -> CCNet
    // selection -> pack) runs once the stream drains. Equal to the
    // one-shot p08 by construction — the oracle IS the p08 mirror.
    "w09_stream_curation" -> ((s, d) =>
      streamedWebCuration(s, d, "w09", maintainLmStats = false)),

    // w09 with the corpus-global finish's LM TRAINING made incremental
    // (w14): each micro-batch also writes the config-sized lmStats
    // partial of its clean in-domain rows to a StatsStore keyed by the
    // slice's content identity (the doc_id quartile — production's
    // file/partition key), so the nightly finish pays one config-sized
    // rollup read instead of re-scanning the accumulated clean corpus
    // for training. Partials over the first-writer rows sum to exactly
    // the one-shot training counts (slices are doc_id-disjoint; the
    // replayed slice's write is absorbed at delivery grain), p14
    // proves the rollup drops into the scorer hash-identically, and
    // the oracle IS the unchanged p08 mirror.
    "w14_stream_stats_curation" -> ((s, d) =>
      streamedWebCuration(s, d, "w14", maintainLmStats = true)),

    // BPE-count sequence packing: the d37 encode's real token counts
    // feeding the d16 two-level prefix-sum packing — pack boundaries
    // from the trained tokenizer, not whitespace counts (what published
    // pipelines actually pack). One narrow encode + the same two
    // exchanges as d16; text never enters either.
    "p07_bpe_pack" -> ((s, d) =>
      graft.operators.Packing.packSequencesBy(
        TextAnalysis.bpeEncode(Tables.documents(s, d), "text")
          .select(col("doc_id"), size(col("bpe_ids")).as("n_bpe")),
        "doc_id", "n_bpe", seqLen = 512)),

    // p07 at the BYTE grain (p13): pack boundaries from the byte-level
    // tokenizer's counts — the published-scheme tokenizer (d53's
    // GPT-2-prefix merges, whitespace tokenized, whole-text lossless)
    // driving the d16 prefix-sum machinery. Unlike p07, every byte of
    // every document is budgeted (spaces included), so the sequence
    // grid is a true byte-faithful training layout. Same two
    // exchanges; text enters neither.
    "p13_byte_token_pack" -> ((s, d) =>
      graft.operators.Packing.packSequencesBy(
        TextAnalysis.bpeEncode(Tables.documents(s, d), "text",
            TextAnalysis.gpt2ByteMergesPrefix, byteLevel = true)
          .select(col("doc_id"), size(col("bpe_ids")).as("n_bt")),
        "doc_id", "n_bt", seqLen = 512)),

    // Token-weighted temperature mix: each language's mass is its total
    // token count (Σ per-doc whitespace tokens — the published
    // token-budget form) instead of its document count; the sqrt
    // flattening, integer-division targets, and whole-document
    // selection are d29's machinery unchanged.
    "d33_weighted_mix" -> ((s, d) =>
      Sampling.temperatureMix(
          Tables.documents(s, d)
            .withColumn("__wt", size(TextAnalysis.tokens(col("text")))),
          "doc_id", "lang", totalTarget = 300, weightCol = Some("__wt"))
        .select("doc_id", "lang", "mix_target"))
  )

  /** 12 NATO-alphabet tokens standing in for a leaked benchmark
    * passage in d23 (absent from the generated fixture vocabulary, so
    * every overlap is attributable to the injection). */
  private val ProbePassage = "alpha bravo charlie delta echo foxtrot " +
    "golf hotel india juliett kilo lima"

  /** DuckDB mirrors of the operator definitions. */
  private val tkSql = "list_distinct(string_split(text, ' '))"

  /** DuckDB word n-gram list mirroring [[TextAnalysis.shingles]]:
    * whole-text fallback under n tokens, else every n-token window. */
  private def gramSql(n: Int): String =
    s"""CASE WHEN len(string_split(text, ' ')) < $n THEN [text]
       ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - ${n - 1}),
         i -> concat_ws(' ', ${(0 until n).map(k => s"string_split(text, ' ')[i+$k]").mkString(", ")}))
       END"""

  /** Kirsch-Mitzenmacher slot j over the distinct shingle set: one md5
    * per shingle, two 48-bit halves, min of h1 + j*h2 (mirrors
    * Dedup.minHashSignatures exactly). */
  private def shingleMinhashSql(j: Int): String =
    s"""list_aggregate(list_transform(list_distinct(sh),
       t -> ('0x' || substr(md5(t), 1, 12))::BIGINT
            + $j * ('0x' || substr(md5(t), 13, 12))::BIGINT), 'min')"""

  /** The planted fixture behind [[boundarySplit]] and
    * [[capstoneFixture]]: every doc_id % 20 == 0 doc (always batch
    * side of the % 4 split) becomes a near-copy of its
    * doc_id + 1 successor (always index side: (id+1) % 4 == 1) — the
    * successor's text plus a tail, so the copy is NEAR, not exact,
    * and spans the index/batch boundary by construction. The final
    * doc (no successor) keeps its own text. */
  private def plantBoundaryCopies(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id").as("__sid"),
      col("text").as("__stext"))
    docs.join(src, col("doc_id") + 1 === col("__sid"), "left")
      .withColumn("text",
        when(col("doc_id") % 20 === 0 && col("__stext").isNotNull,
          concat(col("__stext"), lit(" planted boundary copy")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("text"))
  }

  /** The boundary-planted index/batch split (d44, d51, d52, w08, w11):
    * `docs` with [[plantBoundaryCopies]] applied, its doc_id % 4 != 0
    * index side and its doc_id % 4 == 0 batch side. */
  private def boundarySplit(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val planted = plantBoundaryCopies(docs)
    (planted, planted.filter(col("doc_id") % 4 =!= 0),
      planted.filter(col("doc_id") % 4 === 0))
  }

  /** The band index every band gate builds over `rows` (d44, d51, d52,
    * w08, w11 over the index side; p12, w12 over the capstone corpus):
    * k = 6 bands of width 2, 8 buckets — the engine side of
    * [[bandIdxCtes]]. */
  private def bandIndex(rows: DataFrame, tbl: String): Unit =
    Dedup.buildBandIndex(rows, "text", "doc_id", tbl,
      k = 6, bandWidth = 2, buckets = 8)

  /** An empty key-bucketed sink with `cols`' schema, keyed on `key`,
    * 8 buckets: the table a streamed gate accumulates into (w08, w10,
    * w11, w12, and both keyed tables of the streamed web curation). */
  private def emptyKeyedSink(cols: DataFrame, key: String,
      tbl: String): Unit =
    Dedup.buildKeyedTable(cols.limit(0), key, tbl, buckets = 8)

  /** The d45/p11 shared URL fixture: 20 domains, 5-way dup groups,
    * case/tracking noise — mirrored verbatim in the oracle SQL. */
  private def syntheticUrl: Column = syntheticUrlWith(100)

  /** [[syntheticUrl]] with the path divisor as a knob: dup-group
    * width = pathDiv / 20 over a dense id range. p12 uses 40 (2-way
    * groups over its quarter-batch — the d45 default's 5-way groups
    * would throttle the capstone's funnel to near-empty). */
  private def syntheticUrlWith(pathDiv: Int): Column = {
    val host = concat(lit("site"), (col("doc_id") % 20).cast("string"))
    concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://"))
        .otherwise(lit("https://")),
      when(col("doc_id") % 2 === 0, upper(host)).otherwise(host),
      lit(".example.com/page/"), expr(s"doc_id div $pathDiv").cast("string"),
      when(col("doc_id") % 4 === 1,
          concat(lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2, lit("#top"))
        .otherwise(lit("")))
  }

  /** The d48/p11 shared link-graph fixture: site-level edges, dst
    * mixing doc_id and doc_id div 20 so the graph is irregular. */
  private def syntheticEdges(docs: DataFrame): DataFrame =
    docs.select(
        concat(lit("site"), (col("doc_id") % 20).cast("string")).as("src"),
        concat(lit("site"),
          ((col("doc_id") * 7 + expr("doc_id div 20")) % 20)
            .cast("string")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** The d47/p10 shared fixture: deterministic class-marker tokens
    * (hqmarker/junkmarker) planted so the classifier separates
    * non-vacuously on the synthetic corpus — the d40-banner device.
    * Mirrored by nbSql's `mk` CTE. */
  private def markedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" hqmarker hqmarker")))
        .when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" junkmarker junkmarker")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" hqmarker")))
        .otherwise(col("text")))

  /** The d47/p10 shared trained artifact: NB stats over the
    * doc_id % 5 == 0 slice labeled by doc_id % 10 == 0, localized. */
  private def markedNbStats(docs: DataFrame): DataFrame =
    TextAnalysis.localizeStats(TextAnalysis.nbStats(
      markedDocs(docs).filter(col("doc_id") % 5 === 0)
        .withColumn("__pos", col("doc_id") % 10 === 0),
      "text", "__pos", buckets = 512))

  /** The d49/d55/w10 shared fixture, and the capstone's corpus/batch
    * split over its planted frame: corpus = 3/4 of docs; batch = the
    * rest, every doc_id % 8 == 0 doc carrying its corpus-side
    * successor's text (an exact cross-boundary copy, so membership is
    * non-vacuously true across the index/batch boundary). */
  private def bloomFixture(docs: DataFrame): (DataFrame, DataFrame) = {
    val neighbor = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("__nt"))
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .join(neighbor, Seq("doc_id"), "left")
      .withColumn("text",
        when(col("doc_id") % 8 === 0 && col("__nt").isNotNull,
          col("__nt")).otherwise(col("text")))
      .select("doc_id", "text")
    (docs.filter(col("doc_id") % 4 =!= 0), batch)
  }

  /** The d49/d55 shared mirror: the bloom bitmap bit for bit (same
    * salted md5 cells, 32-bit words via bit_or, k-of-k hit rule), the
    * exact verifying membership as ground truth. d55 settles the
    * candidates against the persisted fingerprint table instead of a
    * corpus scan, but computes the same truth, so both keys mirror to
    * this one query. */
  private def bloomMembershipSql: String =
    s"""WITH corpus AS MATERIALIZED (SELECT md5(text) AS key
           FROM documents WHERE doc_id % 4 <> 0),
         bk AS MATERIALIZED (SELECT d.doc_id,
             md5(CASE WHEN d.doc_id % 8 = 0 AND n.text IS NOT NULL
               THEN n.text ELSE d.text END) AS key
           FROM documents d LEFT JOIN documents n
             ON n.doc_id = d.doc_id + 1
           WHERE d.doc_id % 4 = 0),
         bf AS MATERIALIZED (SELECT h // 32 AS word,
             bit_or(1::BIGINT << (h % 32)::INT) AS bits
           FROM (SELECT unnest([
               ('0x' || substr(md5('0' || key), 1, 12))::BIGINT % 65536,
               ('0x' || substr(md5('1' || key), 1, 12))::BIGINT % 65536,
               ('0x' || substr(md5('2' || key), 1, 12))::BIGINT % 65536
             ]) AS h FROM corpus) GROUP BY 1),
         pc AS (SELECT doc_id, unnest([
               ('0x' || substr(md5('0' || key), 1, 12))::BIGINT % 65536,
               ('0x' || substr(md5('1' || key), 1, 12))::BIGINT % 65536,
               ('0x' || substr(md5('2' || key), 1, 12))::BIGINT % 65536
             ]) AS h FROM bk),
         hit AS (SELECT doc_id,
             sum(CASE WHEN (coalesce(bits, 0)
                 & (1::BIGINT << (h % 32)::INT)) <> 0
               THEN 1 ELSE 0 END) = 3 AS maybe_member
           FROM pc LEFT JOIN bf ON pc.h // 32 = bf.word
           GROUP BY 1),
         conf AS (SELECT DISTINCT bk.doc_id
           FROM bk JOIN corpus ON bk.key = corpus.key)
         SELECT hit.doc_id, maybe_member,
           conf.doc_id IS NOT NULL AS is_member
         FROM hit LEFT JOIN conf ON hit.doc_id = conf.doc_id"""

  /** The d48/p11 shared oracle CTEs: the synthetic link graph and 8
    * unrolled integer PageRank rounds, ending in `pr8(n, r)`. */
  private def pageRankCtes: String = {
    val rounds = (1 to 8).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT nd.n,
           150000000::BIGINT + coalesce(c.s, 0) AS r
         FROM nd LEFT JOIN (
           SELECT ed.dst AS n,
               sum(((rr.r * 85) // 100) // ed.deg)::BIGINT AS s
             FROM ed JOIN pr${i - 1} rr ON ed.src = rr.n GROUP BY 1) c
           USING (n))"""
    }.mkString(",\n")
    s"""ed0 AS MATERIALIZED (SELECT DISTINCT
           'site' || (doc_id % 20)::VARCHAR AS src,
           'site' || ((doc_id * 7 + doc_id // 20) % 20)::VARCHAR AS dst
         FROM documents
         WHERE 'site' || (doc_id % 20)::VARCHAR
           <> 'site' || ((doc_id * 7 + doc_id // 20) % 20)::VARCHAR),
         nd AS MATERIALIZED (SELECT src AS n FROM ed0
           UNION SELECT dst FROM ed0),
         dg AS (SELECT src, count(*)::BIGINT AS deg FROM ed0 GROUP BY 1),
         ed AS MATERIALIZED (SELECT ed0.src, ed0.dst, dg.deg
           FROM ed0 JOIN dg USING (src)),
         pr0 AS (SELECT n, 1000000000::BIGINT AS r FROM nd),
         $rounds"""
  }

  /** The d45/p11 shared oracle CTEs: synthesize -> strip -> case-fold
    * -> keep min id per canonical url, ending in
    * `s(doc_id, curl, domain)` (the dedup survivor set). `src` is the
    * doc population the urls synthesize over (p12 runs it over the
    * batch slice). */
  private def urlCurationCtes(src: String = "documents",
      pathDiv: Int = 100): String =
    s"""u AS (SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
           (CASE WHEN doc_id % 2 = 0
              THEN upper('site' || (doc_id % 20)::VARCHAR)
              ELSE 'site' || (doc_id % 20)::VARCHAR END) ||
           '.example.com/page/' || (doc_id // $pathDiv)::VARCHAR ||
           (CASE WHEN doc_id % 4 = 1
              THEN '?utm_source=feed&ref=' || doc_id::VARCHAR
            WHEN doc_id % 4 = 2 THEN '#top' ELSE '' END) AS url
         FROM $src),
         c AS (SELECT doc_id,
           CASE WHEN regexp_extract(b, '^([^/]*://[^/]*)', 1) <> ''
             THEN lower(regexp_extract(b, '^([^/]*://[^/]*)', 1))
               || regexp_extract(b, '^[^/]*://[^/]*(.*)$$', 1)
             ELSE b END AS curl
           FROM (SELECT doc_id, regexp_replace(url, '[?#].*$$', '') AS b
             FROM u)),
         dm AS (SELECT doc_id, curl,
             lower(regexp_extract(curl, '^[^/]*://([^/]*)', 1)) AS domain
           FROM c),
         k AS (SELECT min(doc_id) AS keep_id FROM dm GROUP BY curl),
         s AS (SELECT dm.* FROM dm JOIN k ON dm.doc_id = k.keep_id)"""

  /** The d44/w08 shared oracle CTEs: planted corpus -> word-trigram
    * shingles (+ batch flag) -> the d07 salted 3-band MinHash frame.
    * `src` is the (doc_id, text) population the plant applies over
    * (p12 runs it over the marked store). */
  private def bandIdxCtes(src: String = "documents"): String = {
    val bandExprs = (0 until 3).map(b =>
      s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, " +
        s"${shingleMinhashSql(2 * b + 1)}))").mkString(", ")
    s"""pl AS (SELECT d.doc_id,
         CASE WHEN d.doc_id % 20 = 0 AND s.text IS NOT NULL
           THEN s.text || ' planted boundary copy' ELSE d.text END AS text
       FROM $src d LEFT JOIN $src s ON s.doc_id = d.doc_id + 1),
       shp AS (SELECT doc_id, doc_id % 4 = 0 AS is_batch,
         CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
           ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
             i -> concat_ws(' ', string_split(text, ' ')[i],
               string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
         END AS sh FROM pl),
       banded AS (SELECT doc_id, is_batch, unnest([$bandExprs]) AS band
         FROM shp)"""
  }

  /** The d38/p06 shared nll CTE chain, mirroring TextAnalysis.lmStats +
    * lmPerplexity + withQuantizedLog2: hashed-bigram counts on the
    * doc_id % 97 == 0 slice, add-one-smoothed clamped ratio, then the
    * integer shift-and-square quantized log2 unrolled 10 steps (each
    * iteration a generated CTE — the SAME integer ops as the Spark
    * column chain, so scores are bit-identical by construction).
    * Yields CTE text ending in `ppl(doc_id, n_trans, nll_q, ppl_q)`. */
  private def lmNllSql(ctxB: Int, pairB: Int,
      src: String = "documents",
      trainPred: String = "doc_id % 97 = 0",
      textExpr: String = "text",
      order: Int = 2,
      tag: String = ""): String = {
    // `tag` prefixes every CTE name so two chains (or this chain plus
    // nbSql, whose `sc` collides) can compose in ONE mirror — p12
    // embeds this under tag="lm" next to nbSql and pageRankCtes
    val iters = (1 to 10).map { i =>
      val prev = if (i == 1) s"${tag}l3" else s"${tag}i${i - 1}"
      s"""${tag}i$i AS (SELECT doc_id, k,
         CASE WHEN pp >= 2*qq THEN pp >> 1 ELSE pp END AS p, qq AS q,
         acc*2 + (CASE WHEN pp >= 2*qq THEN 1 ELSE 0 END) AS acc
       FROM (SELECT doc_id, k, acc, (p*p) >> s AS pp, (q*q) >> s AS qq
         FROM (SELECT doc_id, k, acc, p, q,
             length(bin(q*q)) - 30 AS s FROM $prev)))"""
    }.mkString(",\n")
    s"""${tag}t AS (SELECT doc_id, string_split($textExpr, ' ') AS tk FROM $src),
       ${tag}trn AS (SELECT doc_id,
           array_to_string(tk[i:i+${order - 2}], ' ') AS a,
           tk[i+${order - 1}] AS b
         FROM (SELECT doc_id, tk,
           unnest(generate_series(1, len(tk) - ${order - 1})) AS i FROM ${tag}t)),
       ${tag}cstat AS (SELECT ('0x' || substr(md5(a), 1, 12))::BIGINT % $ctxB
           AS bucket, count(*)::BIGINT AS cc
         FROM ${tag}trn WHERE $trainPred GROUP BY 1),
       ${tag}pstat AS (SELECT
           ('0x' || substr(md5(a || ' ' || b), 1, 12))::BIGINT % $pairB
           AS bucket, count(*)::BIGINT AS pc
         FROM ${tag}trn WHERE $trainPred GROUP BY 1),
       ${tag}sc AS (SELECT ${tag}trn.doc_id,
           coalesce(cc, 0) + $pairB AS d,
           least(coalesce(pc, 0) + 1, coalesce(cc, 0) + $pairB) AS n
         FROM ${tag}trn
         LEFT JOIN ${tag}cstat ON ('0x' || substr(md5(a), 1, 12))::BIGINT % $ctxB
           = ${tag}cstat.bucket
         LEFT JOIN ${tag}pstat ON
           ('0x' || substr(md5(a || ' ' || b), 1, 12))::BIGINT % $pairB
           = ${tag}pstat.bucket),
       ${tag}l0 AS (SELECT doc_id, d, n, length(bin(d // n)) - 1 AS k FROM ${tag}sc),
       ${tag}l1 AS (SELECT doc_id, d, k, (n << k) AS q0 FROM ${tag}l0),
       ${tag}l2 AS (SELECT doc_id, d, k, q0, length(bin(q0)) - 30 AS s0 FROM ${tag}l1),
       ${tag}l3 AS (SELECT doc_id, k,
           CASE WHEN s0 >= 0 THEN d >> s0 ELSE d << (-s0) END AS p,
           CASE WHEN s0 >= 0 THEN q0 >> s0 ELSE q0 << (-s0) END AS q,
           0::BIGINT AS acc FROM ${tag}l2),
       $iters,
       ${tag}nll AS (SELECT doc_id, k::BIGINT * 1024 + acc AS v FROM ${tag}i10),
       ${tag}agg AS (SELECT doc_id, count(*)::BIGINT AS nt, sum(v)::BIGINT AS sv
         FROM ${tag}nll GROUP BY 1),
       ${tag}ppl AS (SELECT ${tag}t.doc_id, coalesce(nt, 0)::BIGINT AS n_trans,
           coalesce(sv, 0)::BIGINT AS nll_q,
           coalesce(sv // greatest(nt, 1), 0)::BIGINT AS ppl_q
         FROM ${tag}t LEFT JOIN ${tag}agg USING (doc_id))"""
  }

  /** The d47 mirror: the same planted-marker fixture, one-pass Naive
    * Bayes class counts, and the integer shift-and-square quantized
    * log2 (lmNllSql's unroll, keyed (doc_id, lbl) so both class
    * chains AND the two prior rows share one pass — prior rows ride
    * the sentinel doc_id = -1). Ends in
    * `out(doc_id, n_tok, nll_pos_q, nll_neg_q, margin_q, pred_hq)`. */
  private def nbSql(buckets: Int): String = {
    val iters = (1 to 10).map { i =>
      val prev = if (i == 1) "n3" else s"j${i - 1}"
      s"""j$i AS (SELECT doc_id, lbl, k,
         CASE WHEN pp >= 2*qq THEN pp >> 1 ELSE pp END AS p, qq AS q,
         acc*2 + (CASE WHEN pp >= 2*qq THEN 1 ELSE 0 END) AS acc
       FROM (SELECT doc_id, lbl, k, acc, (p*p) >> s AS pp, (q*q) >> s AS qq
         FROM (SELECT doc_id, lbl, k, acc, p, q,
             length(bin(q*q)) - 30 AS s FROM $prev)))"""
    }.mkString(",\n")
    s"""mk AS MATERIALIZED (SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' hqmarker hqmarker'
           WHEN doc_id % 5 = 0 THEN text || ' junkmarker junkmarker'
           WHEN doc_id % 7 = 0 THEN text || ' hqmarker'
           ELSE text END AS text
       FROM documents),
       trt AS (SELECT doc_id % 10 = 0 AS pos,
           unnest(string_split(text, ' ')) AS t
         FROM mk WHERE doc_id % 5 = 0),
       tstat AS MATERIALIZED (SELECT
           ('0x' || substr(md5(t), 1, 12))::BIGINT % $buckets AS bucket,
           sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp,
           sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)::BIGINT AS cn
         FROM trt GROUP BY 1),
       tot AS (SELECT coalesce(sum(cp), 0)::BIGINT AS tp,
           coalesce(sum(cn), 0)::BIGINT AS tn FROM tstat),
       dstat AS (SELECT
           sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS dp,
           sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS dn
         FROM mk WHERE doc_id % 5 = 0),
       tk AS MATERIALIZED (SELECT doc_id,
           unnest(string_split(text, ' ')) AS t FROM mk),
       sc AS (
         SELECT tk.doc_id, 1 AS lbl, tp + $buckets AS d,
             coalesce(cp, 0) + 1 AS n
           FROM tk CROSS JOIN tot LEFT JOIN tstat
             ON ('0x' || substr(md5(t), 1, 12))::BIGINT % $buckets
               = tstat.bucket
         UNION ALL
         SELECT tk.doc_id, 0 AS lbl, tn + $buckets AS d,
             coalesce(cn, 0) + 1 AS n
           FROM tk CROSS JOIN tot LEFT JOIN tstat
             ON ('0x' || substr(md5(t), 1, 12))::BIGINT % $buckets
               = tstat.bucket
         UNION ALL
         SELECT -1 AS doc_id, 1 AS lbl, dp + dn + 2 AS d, dp + 1 AS n
           FROM dstat
         UNION ALL
         SELECT -1 AS doc_id, 0 AS lbl, dp + dn + 2 AS d, dn + 1 AS n
           FROM dstat),
       n0 AS (SELECT doc_id, lbl, d, n, length(bin(d // n)) - 1 AS k FROM sc),
       n1 AS (SELECT doc_id, lbl, d, k, (n << k) AS q0 FROM n0),
       n2 AS (SELECT doc_id, lbl, d, k, q0,
           length(bin(q0)) - 30 AS s0 FROM n1),
       n3 AS (SELECT doc_id, lbl, k,
           CASE WHEN s0 >= 0 THEN d >> s0 ELSE d << (-s0) END AS p,
           CASE WHEN s0 >= 0 THEN q0 >> s0 ELSE q0 << (-s0) END AS q,
           0::BIGINT AS acc FROM n2),
       $iters,
       nv AS MATERIALIZED (SELECT doc_id, lbl,
           k::BIGINT * 1024 + acc AS v FROM j10),
       nag AS (SELECT doc_id,
           sum(CASE WHEN lbl = 1 THEN v ELSE 0 END)::BIGINT AS nllp,
           sum(CASE WHEN lbl = 0 THEN v ELSE 0 END)::BIGINT AS nlln
         FROM nv WHERE doc_id >= 0 GROUP BY 1),
       pr AS (SELECT
           sum(CASE WHEN lbl = 1 THEN v END)::BIGINT AS prp,
           sum(CASE WHEN lbl = 0 THEN v END)::BIGINT AS prn
         FROM nv WHERE doc_id = -1),
       tc AS (SELECT doc_id, count(*)::BIGINT AS n_tok FROM tk GROUP BY 1),
       out AS (SELECT mk.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
           coalesce(nllp, 0)::BIGINT AS nll_pos_q,
           coalesce(nlln, 0)::BIGINT AS nll_neg_q,
           ((coalesce(nlln, 0) + prn) - (coalesce(nllp, 0) + prp))::BIGINT
             AS margin_q,
           (coalesce(nlln, 0) + prn) - (coalesce(nllp, 0) + prp) > 0
             AS pred_hq
         FROM mk LEFT JOIN tc USING (doc_id) LEFT JOIN nag USING (doc_id)
           CROSS JOIN pr)"""
  }

  /** The d37/p07 shared BPE-encode CTE chain — an independent
    * recursive-CTE implementation of the published batch-BPE loop over
    * DISTINCT words (see the d37 scaladoc note on batch-semantics
    * equivalence of holding the current pair until exhausted). Ends in
    * `t(doc_id, ws)` and `agg(doc_id, a)` where `a` is the doc's full
    * id stream; docs whose every word is empty are only in `t`. */
  private def bpeCtes: String = {
    val ms = graft.operators.TextAnalysis.defaultBpeMerges
    def lits(xs: Seq[String]) =
      xs.map(x => s"'${x.replace("'", "''")}'").mkString(", ")
    val rkKeys = lits(ms.map { case (l, r) => s"$l $r" })
    val rkVals = ms.indices.mkString(", ")
    val idKeys = lits(ms.map { case (l, r) => l + r })
    val idVals = ms.indices.map(_ + 0x110000).mkString(", ")
    s"""mp AS (SELECT map([$rkKeys], [$rkVals]) AS rk,
               map([$idKeys], [$idVals]) AS im),
       t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS ws
         FROM documents),
       wd AS (SELECT DISTINCT unnest(ws) AS w FROM t),
       st AS (
         SELECT w,
             list_transform(generate_series(1, length(w)), i -> w[i]) AS toks,
             CAST(NULL AS INT) AS cur, false AS done
           FROM wd
         UNION ALL
         SELECT w,
             CASE WHEN eff IS NULL THEN toks
               ELSE toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
             END AS toks,
             eff AS cur, eff IS NULL AS done
           FROM (
             SELECT w, toks,
                 CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                   THEN cur ELSE list_aggregate(pr, 'min') END AS eff,
                 list_position(pr,
                   CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                     THEN cur ELSE list_aggregate(pr, 'min') END) AS pos
               FROM (
                 SELECT w, toks, cur,
                     list_transform(generate_series(1, len(toks) - 1),
                       i -> map_extract(rk, toks[i] || ' ' || toks[i+1])[1])
                       AS pr
                   FROM st, mp WHERE NOT done))),
       enc AS (SELECT w,
           list_transform(toks, s -> CASE WHEN length(s) = 1
             THEN unicode(s) ELSE map_extract(im, s)[1] END) AS ids
         FROM st, mp WHERE done),
       dw AS (SELECT doc_id, x.wi AS wi, x.w AS w FROM (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(ws)),
             i -> struct_pack(wi := i, w := ws[i]))) AS x FROM t)),
       agg AS (SELECT doc_id, flatten(list(ids ORDER BY wi)) AS a
         FROM dw JOIN enc USING (w) GROUP BY 1)"""
  }

  /** The capstone's corpus-global DOWNSTREAM — classifier quantile
    * gate, order-5 LM thirds, PageRank-weighted quota, sequence
    * packing — over an already-resolved survivor frame
    * (doc_id, domain). Shared by the one-shot p12 and the streamed
    * w12 (whose ingest half accumulates the identical survivor set):
    * the w09 split between incremental ingest and the periodic
    * corpus-global finish, applied to the full modern stack. `s3`
    * must be checkpointed/materialized (both callers ensure it). */
  /** The streamed web-curation flow shared by w09 and w14: four
    * ascending-doc_id slices plus a replay of slice 1, each
    * micro-batch running the Gopher gate and the incremental line
    * dedup against the accumulated line-hash index, appending clean
    * rows and new hashes idempotently (the d55 keyed-table device —
    * no corpus-sized frame is read per delivery). With
    * `maintainLmStats` (w14), each batch ALSO writes the config-sized
    * lmStats partial of its clean in-domain rows to a [[StatsStore]]
    * under the slice's content identity (its doc_id quartile —
    * production's file/partition key; the streaming batchId would
    * number a redelivered file as a fresh batch), and the
    * corpus-global finish scores from the store's rollup instead of
    * re-scanning the accumulated clean table for training. The store
    * is additionally compacted UNDER LIVE TRAFFIC after the third
    * delivery — deliberately BEFORE the replay arrives, so the
    * redelivery's partition marker is gone and only the `_absorbed`
    * manifest can (and must) suppress it; the gate asserts the store
    * holds exactly base + the post-compact delivery afterwards. Equal
    * to the one-shot p08 by construction either way — partials over
    * first-writer rows sum to exactly the one-shot training counts
    * because the slices are doc_id-disjoint and the replayed slice's
    * write is absorbed at delivery grain (marker or manifest). */
  private def streamedWebCuration(s: SparkSession, d: String,
      tag: String, maintainLmStats: Boolean): DataFrame = {
    val loc = Scratch.dir(tag, d)
    val lmStore = s"$loc/lmstore"
    // persisted: the count + four slice writes + replay write are six
    // consumers of the same scan (guide §5); released once the replay
    // drains
    val planted = Tables.documents(s, d).withColumn("text",
      when(col("doc_id") % 50 === 0,
        concat(lit("subscribe to our newsletter\ncookie policy\n"),
          col("text"))).otherwise(col("text")))
      .select("doc_id", "text")
      .persist()
    val n = planted.count()
    val bounds = Seq(n / 4, n / 2, 3 * n / 4)
    val slices = Seq(
      planted.filter(col("doc_id") < bounds(0)),
      planted.filter(col("doc_id") >= bounds(0) && col("doc_id") < bounds(1)),
      planted.filter(col("doc_id") >= bounds(1) && col("doc_id") < bounds(2)),
      planted.filter(col("doc_id") >= bounds(2)))
    // the accumulating clean table and line-hash index are keyed
    // tables (the d55 device): the strip probes the line index
    // bucket-pruned by THIS slice's hashes — exactly the
    // "persist the index bucketed on line_hash" production shape
    // the stripDuplicatedLinesVsIndex scaladoc prescribes — and
    // both accumulations are the keyed append's idempotence, so no
    // corpus-sized frame is read per delivery
    val cleanTbl = Scratch.catalogTable(s, "graft_keyed", s"${tag}c", d)
    val lineTbl = Scratch.catalogTable(s, "graft_keyed", s"${tag}l", d)
    emptyKeyedSink(planted.select(col("doc_id"), col("text").as("clean_text")),
      "doc_id", cleanTbl)
    emptyKeyedSink(planted.select(md5(col("text")).as("line_hash")),
      "line_hash", lineTbl)
    val lmDeliveries = new java.util.concurrent.atomic.AtomicInteger(0)
    // four ascending slices + slice 1 redelivered last
    StreamSlices.replay(s, loc, tag, slices :+ slices(1)) { b =>
      val bs = b.sparkSession
      val kept = TextAnalysis.gopherQualityKept(b, "text")
      val batchHashes = Dedup.lineHashes(kept, "text")
        .localCheckpoint(true)
      // the slice's seen-lines: a bucket-pruned point probe — only
      // index entries matching THIS slice's hashes can strip, so
      // the probed subset is semantics-preserving
      val seen = Dedup.probeKeyedTable(bs, lineTbl, batchHashes,
        "line_hash")
      val stripped = Dedup.stripDuplicatedLinesVsIndex(
        kept, "text", "doc_id", seen)
      // one LEFT join instead of anti-join ∪ union (the old shape's
      // plan contained the whole strip subtree TWICE — once pruned to
      // doc_id for the anti-join, once for the union branch — so each
      // delivery evaluated the strip pipeline ~2x; row-identical:
      // unaffected docs keep their text, affected non-husk docs take
      // clean_text, all-boilerplate husks drop)
      val cleanPlan = kept
        .join(stripped.select(col("doc_id"), col("clean_text")),
          Seq("doc_id"), "left")
        .filter(col("clean_text").isNull || col("clean_text") =!= "")
        .select(col("doc_id"),
          coalesce(col("clean_text"), col("text")).as("clean_text"))
      // with the stats partial (w14) the clean rows have TWO consumers
      // (the append and the lmStats partial), so checkpoint once per
      // delivery — without this the gate+strip pipeline re-ran per
      // consumer (measured r22: writeDelivery re-evaluated the whole
      // strip after the append released its internal persist; guide
      // §5's reused-branch discipline at batch grain). w09's single
      // consumer (the append, which persists internally) needs no
      // extra materialization.
      val clean =
        if (maintainLmStats) cleanPlan.localCheckpoint(true) else cleanPlan
      // idempotent accumulation: the clean append probes its sink
      // (first-delivery idempotence); the line-hash append reuses THIS
      // batch's `seen` probe as its idempotence set — the probe+append
      // pair was reading the same buckets twice per delivery
      Dedup.appendToKeyedTable(clean, cleanTbl, "doc_id")
      Dedup.appendProbedToKeyedTable(batchHashes, lineTbl, "line_hash",
        seen)
      if (maintainLmStats) {
        // content-keyed delivery identity: the slice's quartile class
        val cls = graft.operators.DriverBounded.collectCapped(
          b.select(when(col("doc_id") < bounds(0), 0)
            .when(col("doc_id") < bounds(1), 1)
            .when(col("doc_id") < bounds(2), 2)
            .otherwise(3).as("s")).distinct(), 5,
          s"$tag: slice classes exceed bound")
        require(cls.length == 1,
          s"$tag: each delivery must be one slice, saw ${cls.length}")
        // the partial replans from the CHECKPOINTED probe rows (the
        // w05 discipline), so the hash append above cannot bleed into
        // this batch's own strip verdicts; a replayed slice is
        // absorbed at delivery grain before the frame ever evaluates
        graft.operators.StatsStore.writeDelivery(lmStore,
          s"slice${cls(0).getInt(0)}",
          TextAnalysis.lmStats(
            clean.filter(col("doc_id") % 97 === 0), "clean_text",
            ctxBuckets = 1024, pairBuckets = 16384))
        // compact the store UNDER LIVE TRAFFIC after the third
        // delivery — the production cadence, and the ordering the
        // `_absorbed` manifest exists for: slice 1's partial is folded
        // away BEFORE its replay arrives, so the redelivery must be
        // absorbed at the manifest, not the (gone) partition marker
        if (lmDeliveries.incrementAndGet() == 3) {
          graft.operators.StatsStore.compact(bs, lmStore,
            Seq("kind", "bucket"))
          val visible = graft.operators.StatsStore
            .visibleDeliveryIds(bs, lmStore).toSet
          require(visible ==
              Set(graft.operators.StatsStore.BasePartition),
            s"$tag: mid-stream compact must fold the three delivered " +
              s"partials into the base partition alone, saw $visible")
        }
      }
      ()
    }
    planted.unpersist(blocking = false)
    s.catalog.refreshTable(cleanTbl)
    if (maintainLmStats) {
      // the replayed slice arrived AFTER the mid-stream compact folded
      // its partition away: only the manifest could absorb it, and the
      // store must show base + the one post-compact delivery — a
      // re-written slice1 here means the redelivery double-counted
      val postStream = graft.operators.StatsStore
        .visibleDeliveryIds(s, lmStore).toSet
      require(postStream ==
          Set(graft.operators.StatsStore.BasePartition, "slice3"),
        s"$tag: expected the compacted base plus slice3 only (the " +
          s"replayed slice1 manifest-absorbed, never re-written), " +
          s"saw $postStream")
      // fold the partials, then score from the ROLLUP — the finish
      // never re-scans the clean corpus for training
      graft.operators.StatsStore.compact(s, lmStore, Seq("kind", "bucket"))
      val rolled = TextAnalysis.localizeStats(
        graft.operators.StatsStore.readStats(s, lmStore,
          Seq("kind", "bucket")))
      graft.operators.Pipeline.webCurationFinishFromStats(
        s.table(cleanTbl), "doc_id", rolled)
    } else
      graft.operators.Pipeline.webCurationFinish(
        s.table(cleanTbl), "doc_id", col("doc_id") % 97 === 0)
  }

  private def capstoneFinish(s: SparkSession, d: String,
      marked: DataFrame, s3: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    // downstream stages score the STORE text by id
    val store = marked.join(broadcast(s3), Seq("doc_id")).persist()
      // stage 4: NB classifier QUANTILE gate — keep the top two-thirds
      // of the survivors by classifier margin (the published
      // threshold-at-a-quantile form; the hard pred_hq cut is d47/p10's
      // gate and would throttle this funnel to near-empty). Ranking
      // descending = scoreBandSplit over the negated margin.
      // the score frame is survivor-grain: checkpoint it before
      // ranking so ranked()'s two range-exchange consumers bottom at
      // the same materialized rows (a persisted upstream can be
      // cache-substituted on one side only — rankByValue's guard
      // refuses that plan) and the NB chain provably runs once
      val nbScores = TextAnalysis.nbScore(store, "text", "doc_id",
          markedNbStats(docs), buckets = 512)
        .select(col("doc_id"), (-col("margin_q")).as("neg_margin"))
        // the coalesce is a no-expression partitioning barrier: a
        // checkpoint taken under non-adaptive planning captures the
        // chain's HashPartitioning WITH its expression ids, and the
        // rank self-join's DeduplicateRelations newInstance then breaks
        // the canonical equality rankByValue requires
        .coalesce(32).localCheckpoint(true)
      val keptIds = Sampling.scoreBandSplit(nbScores, "neg_margin", "doc_id")
        .filter(col("band") =!= "tail").select("doc_id")
      val s4 = store.join(broadcast(keptIds), Seq("doc_id"), "left_semi")
        .persist()
      // stage 5: order-5 LM vs the corpus in-domain slice; keep the
      // head+middle perplexity thirds OF THE SURVIVORS
      val lmStats = TextAnalysis.localizeStats(TextAnalysis.lmStats(
        marked.filter(col("doc_id") % 97 === 0 && col("doc_id") % 4 =!= 0),
        "text", ctxBuckets = 16384, pairBuckets = 16384, order = 5))
      val pplScores = TextAnalysis.lmPerplexity(s4, "text", "doc_id",
          lmStats, ctxBuckets = 16384, pairBuckets = 16384, order = 5)
        .select("doc_id", "ppl_q").coalesce(32).localCheckpoint(true)
      val bands = Sampling.scoreBandSplit(pplScores, "ppl_q", "doc_id")
      val s5 = s4.join(
        broadcast(bands.filter(col("band") =!= "tail").select("doc_id")),
        Seq("doc_id"), "left_semi")
      // stage 6: PageRank-weighted per-domain quota
      val caps = GraphOps.pageRank(syntheticEdges(docs), "src", "dst",
          iters = 8)
        .select(concat(col("node"), lit(".example.com")).as("domain"),
          expr("rank_q div 300000000").as("cap"))
      val s6 = Sampling.quotaPerGroupBy(s5, "doc_id", "domain", caps, "cap")
        .localCheckpoint(true)
      store.unpersist(blocking = false)
      s4.unpersist(blocking = false)
      // stage 7: pack the final mix into 512-token sequences
      Packing.packSequences(s6, "doc_id", "text", seqLen = 512,
          bucketSize = 64)
        .join(s6.select("doc_id", "domain"), Seq("doc_id"))
        .select("doc_id", "domain", "n_tokens", "start_offset",
          "first_seq", "last_seq")
  }

  /** The capstone's shared fixture: the marked STORE, and
    * [[bloomFixture]]'s corpus three-quarters and batch quarter over
    * the marked docs with the %20 boundary near-copies planted — the
    * batch carrying the %8 exact copies too (markers first, so the
    * copies carry their source's markers verbatim and exact
    * membership survives marking). The planted frame — a self-join —
    * is PERSISTED: corpus and batch0 fan out to every artifact build
    * (bloom, fingerprint table, band index, URL stage), each of which
    * would otherwise re-run the self-join (guide §5); callers release
    * via the returned handle once the artifacts are built. */
  private def capstoneFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val marked = markedDocs(Tables.documents(s, d))
    val planted = plantBoundaryCopies(marked).persist()
    val (corpus, batch0) = bloomFixture(planted)
    (marked, corpus, batch0,
      () => { planted.unpersist(blocking = false); () })
  }

  /** The p12/w12 shared capstone mirror (see the p12 oracle comment
    * for the stage-by-stage account). */
  private def capstoneSql: String =
    s"""WITH ${nbSql(512)},
         ${bandIdxCtes("mk")},
         bt AS MATERIALIZED (SELECT d.doc_id,
             CASE WHEN d.doc_id % 8 = 0 AND n.text IS NOT NULL
               THEN n.text ELSE d.text END AS text
           FROM pl d LEFT JOIN pl n ON n.doc_id = d.doc_id + 1
           WHERE d.doc_id % 4 = 0),
         cp AS MATERIALIZED (SELECT doc_id, text FROM pl
           WHERE doc_id % 4 <> 0),
         ${urlCurationCtes("bt", 40)},
         s3 AS MATERIALIZED (SELECT s.doc_id, s.domain
           FROM s JOIN bt USING (doc_id)
           WHERE bt.text NOT IN (SELECT text FROM cp)
             AND s.doc_id NOT IN (
               SELECT DISTINCT b.doc_id FROM banded b JOIN banded i
                 ON b.band = i.band
               WHERE b.is_batch AND NOT i.is_batch)),
         nbr AS (SELECT s3.doc_id, s3.domain,
             row_number() OVER (ORDER BY -out.margin_q NULLS FIRST,
               s3.doc_id NULLS FIRST) AS rk,
             count(*) OVER () AS cn
           FROM s3 JOIN out USING (doc_id)),
         s4p AS MATERIALIZED (SELECT doc_id, domain FROM nbr
           WHERE (rk - 1) * 3 < cn * 2),
         ${lmNllSql(16384, 16384, src = "mk",
          trainPred = "doc_id % 97 = 0 AND doc_id % 4 <> 0",
          order = 5, tag = "lm")},
         lmr AS (SELECT s4p.doc_id, s4p.domain,
             row_number() OVER (ORDER BY ppl_q NULLS FIRST,
               s4p.doc_id NULLS FIRST) AS rk,
             count(*) OVER () AS cn
           FROM s4p JOIN lmppl USING (doc_id)),
         s5p AS MATERIALIZED (SELECT doc_id, domain FROM lmr
           WHERE (rk - 1) * 3 < cn * 2),
         $pageRankCtes,
         caps AS (SELECT n || '.example.com' AS domain,
             (r // 300000000)::BIGINT AS cap FROM pr8),
         r2 AS (SELECT doc_id, domain, row_number() OVER (
             PARTITION BY domain
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM s5p),
         s7 AS MATERIALIZED (SELECT doc_id, domain FROM r2
           LEFT JOIN caps USING (domain)
           WHERE rn <= coalesce(cap, 0)),
         t2 AS (SELECT mk.doc_id, s7.domain,
             len(string_split(mk.text, ' '))::BIGINT AS n_tokens
           FROM mk JOIN s7 USING (doc_id)),
         c2 AS (SELECT doc_id, domain, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS cum
           FROM t2)
         SELECT doc_id, domain, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq
         FROM c2"""

  /** The d52/w11 shared mirror: the slice-aware keep-the-best
    * resolution over the two doc_id % 8 slices — slice A against
    * the original index, slice B against the index as slice A left
    * it (minus tombstones, plus appended winners). d52 computes it
    * one-shot; w11 accumulates the same first-delivery verdicts
    * through the stream. */
  private def resolveTwoSliceSql: String =
    s"""WITH ${bandIdxCtes()},
         sc AS MATERIALIZED (
           SELECT doc_id, (doc_id * 37) % 100 AS q FROM documents),
         ja AS MATERIALIZED (
           SELECT p.doc_id, p.o, bs.q AS bq, iq.q AS iq
           FROM (SELECT DISTINCT b.doc_id, i.doc_id AS o
               FROM banded b JOIN banded i ON b.band = i.band
               WHERE b.is_batch AND b.doc_id % 8 = 0 AND NOT i.is_batch) p
           JOIN sc bs ON bs.doc_id = p.doc_id
           JOIN sc iq ON iq.doc_id = p.o),
         aa AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS n,
             min(CASE WHEN bq > iq OR (bq = iq AND doc_id < o)
               THEN 1 ELSE 0 END) = 1 AS wins
           FROM ja GROUP BY 1),
         tomb1 AS MATERIALIZED (SELECT DISTINCT o
           FROM ja JOIN aa USING (doc_id) WHERE aa.wins),
         keep1 AS MATERIALIZED (SELECT b.doc_id FROM
             (SELECT DISTINCT doc_id FROM banded
              WHERE is_batch AND doc_id % 8 = 0) b
           LEFT JOIN aa USING (doc_id) WHERE coalesce(aa.wins, true)),
         jb AS MATERIALIZED (
           SELECT p.doc_id, p.o, bs.q AS bq, iq.q AS iq
           FROM (SELECT DISTINCT b.doc_id, i.doc_id AS o
               FROM banded b JOIN banded i ON b.band = i.band
               WHERE b.is_batch AND b.doc_id % 8 = 4
                 AND ((NOT i.is_batch
                       AND i.doc_id NOT IN (SELECT o FROM tomb1))
                   OR (i.is_batch AND i.doc_id % 8 = 0
                       AND i.doc_id IN (SELECT doc_id FROM keep1)))) p
           JOIN sc bs ON bs.doc_id = p.doc_id
           JOIN sc iq ON iq.doc_id = p.o),
         ab AS (SELECT doc_id, count(*)::BIGINT AS n,
             min(CASE WHEN bq > iq OR (bq = iq AND doc_id < o)
               THEN 1 ELSE 0 END) = 1 AS wins
           FROM jb GROUP BY 1),
         bb AS (SELECT DISTINCT doc_id FROM banded WHERE is_batch)
         SELECT bb.doc_id,
           coalesce(x.n, 0)::BIGINT AS n_candidates,
           coalesce(x.wins, true) AS kept,
           (CASE WHEN coalesce(x.wins, true) THEN coalesce(x.n, 0)
             ELSE 0 END)::BIGINT AS n_superseded
         FROM bb LEFT JOIN
           (SELECT * FROM aa UNION ALL SELECT * FROM ab) x
           USING (doc_id)"""

  /** The d53 byte-level mirror: [[bpeCtes]]' recursive merge loop, but
    * over space-attached CHUNKS (`' *[^ ]+| +'` — every byte lands in
    * exactly one chunk) whose initial segmentation is the UTF-8 byte
    * sequence mapped through the published 256-symbol alphabet
    * (re-derived here from `hex(encode(w))`, independent of the Spark
    * kernel's byte path). Ends in `btx(doc_id, cs)` and
    * `bagg(doc_id, a)`. */
  private def bpeBytesCtes(ms: Seq[(String, String)]): String = {
    def lits(xs: Seq[String]) =
      xs.map(x => s"'${x.replace("'", "''")}'").mkString(", ")
    val rkKeys = lits(ms.map { case (l, r) => s"$l $r" })
    val rkVals = ms.indices.mkString(", ")
    val idKeys = lits(ms.map { case (l, r) => l + r })
    val idVals = ms.indices.map(_ + 0x110000).mkString(", ")
    val b2u = lits(graft.functions.ByteAlphabet.byteToStr.toSeq)
    s"""bmp AS (SELECT map([$rkKeys], [$rkVals]) AS rk,
               map([$idKeys], [$idVals]) AS im, [$b2u] AS b2u),
       btx AS (SELECT doc_id,
           regexp_extract_all(text, ' *[^ ]+| +') AS cs
         FROM documents),
       bwd AS (SELECT DISTINCT unnest(cs) AS w FROM btx),
       bst AS (
         SELECT w,
             list_transform(generate_series(1, octet_length(encode(w))),
               i -> b2u[('0x' || substr(hex(encode(w)), 2*i-1, 2))::INT + 1])
               AS toks,
             CAST(NULL AS INT) AS cur, false AS done
           FROM bwd, bmp
         UNION ALL
         SELECT w,
             CASE WHEN eff IS NULL THEN toks
               ELSE toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
             END AS toks,
             eff AS cur, eff IS NULL AS done
           FROM (
             SELECT w, toks,
                 CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                   THEN cur ELSE list_aggregate(pr, 'min') END AS eff,
                 list_position(pr,
                   CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                     THEN cur ELSE list_aggregate(pr, 'min') END) AS pos
               FROM (
                 SELECT w, toks, cur,
                     list_transform(generate_series(1, len(toks) - 1),
                       i -> map_extract(rk, toks[i] || ' ' || toks[i+1])[1])
                       AS pr
                   FROM bst, bmp WHERE NOT done))),
       benc AS (SELECT w,
           list_transform(toks, s -> CASE WHEN length(s) = 1
             THEN unicode(s) ELSE map_extract(im, s)[1] END) AS ids
         FROM bst, bmp WHERE done),
       bdw AS (SELECT doc_id, x.wi AS wi, x.w AS w FROM (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(cs)),
             i -> struct_pack(wi := i, w := cs[i]))) AS x FROM btx)),
       bagg AS (SELECT doc_id, flatten(list(ids ORDER BY wi)) AS a
         FROM bdw JOIN benc USING (w) GROUP BY 1)"""
  }

  /** The d39 training mirror: `numMerges` UNROLLED stages, each a full
    * re-segmentation of the distinct-word vocabulary under the merges
    * trained so far (a recursive CTE per stage, rank map built FROM
    * the previous stage's result — the mirror is dynamic, nothing is
    * hardcoded), then the weighted pair count and the (count desc,
    * pair asc) argmax with the same surface-collision skip and the
    * same count >= 2 floor as the Spark loop. */
  private def bpeTrainSql(numMerges: Int,
      byteLevel: Boolean = false): String = {
    // byte mode: the seed segmentation is the chunk's UTF-8 bytes
    // mapped through the published alphabet (re-derived from
    // hex(encode(w)) — the bpeBytesCtes device); the b2u list rides
    // the mp$s map CTE so the recursive SEED sees it
    val b2uCol =
      if (!byteLevel) ""
      else ", [" + graft.functions.ByteAlphabet.byteToStr
        .map(x => s"'${x.replace("'", "''")}'").mkString(", ") + "] AS b2u"
    val seedToks =
      if (!byteLevel) "list_transform(generate_series(1, length(w)), i -> w[i])"
      else """list_transform(generate_series(1, octet_length(encode(w))),
               i -> b2u[('0x' || substr(hex(encode(w)), 2*i-1, 2))::INT + 1])"""
    val stages = (0 until numMerges).map { s =>
      s"""mp$s AS MATERIALIZED (SELECT coalesce(
           map(list(a || ' ' || b ORDER BY r), list(r ORDER BY r)),
           map([]::VARCHAR[], []::INT[])) AS rk$b2uCol FROM m$s),
         st$s AS (
           -- the rank map rides the SEED rows: a data-dependent CTE
           -- referenced from the recursive term would re-evaluate its
           -- whole upstream training chain once per iteration
           SELECT w,
               $seedToks AS toks,
               CAST(NULL AS INT) AS cur, false AS done, rk
             FROM wd, mp$s
           UNION ALL
           SELECT w,
               CASE WHEN eff IS NULL THEN toks
                 ELSE toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
               END AS toks,
               eff AS cur, eff IS NULL AS done, rk
             FROM (
               SELECT w, toks, rk,
                   CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                     THEN cur ELSE list_aggregate(pr, 'min') END AS eff,
                   list_position(pr,
                     CASE WHEN cur IS NOT NULL AND list_contains(pr, cur)
                       THEN cur ELSE list_aggregate(pr, 'min') END) AS pos
                 FROM (
                   SELECT w, toks, cur, rk,
                       list_transform(generate_series(1, len(toks) - 1),
                         i -> map_extract(rk, toks[i] || ' ' || toks[i+1])[1])
                         AS pr
                     FROM st$s WHERE NOT done))),
         pp$s AS MATERIALIZED (SELECT toks[i] || ' ' || toks[i+1] AS p,
             sum(cnt)::BIGINT AS c
           FROM (SELECT e.toks AS toks, f.cnt AS cnt,
               unnest(generate_series(1, len(e.toks) - 1)) AS i
             FROM (SELECT w, toks FROM st$s WHERE done) e
             JOIN wf f USING (w))
           GROUP BY 1 HAVING sum(cnt) >= 2),
         best$s AS MATERIALIZED (SELECT $s::INT AS r, string_split(p, ' ')[1] AS a,
             string_split(p, ' ')[2] AS b
           FROM pp$s
           WHERE replace(p, ' ', '') NOT IN (SELECT a || b FROM m$s)
           ORDER BY c DESC, p ASC LIMIT 1),
         m${s + 1} AS MATERIALIZED (SELECT r, a, b FROM m$s
           UNION ALL SELECT r, a, b FROM best$s)"""
    }.mkString(",\n")
    val wu =
      if (!byteLevel)
        """t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS ws
         FROM documents),
       wu AS MATERIALIZED (SELECT unnest(ws) AS w FROM t)"""
      else
        """wu AS MATERIALIZED (SELECT
           unnest(regexp_extract_all(text, ' *[^ ]+| +')) AS w
         FROM documents)"""
    s"""WITH RECURSIVE
       $wu,
       wd AS MATERIALIZED (SELECT DISTINCT w FROM wu),
       wf AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM wu GROUP BY 1),
       m0 AS MATERIALIZED (SELECT 0::INT AS r, '' AS a, '' AS b WHERE 1 = 0),
       $stages
       SELECT r AS merge_rank, a AS lhs, b AS rhs FROM m$numMerges"""
  }

  def oracleSql: Map[String, String] = Map(
    // d39: the unrolled dynamic training replay
    "d39_bpe_train" -> bpeTrainSql(8),

    // d54: the same replay with the byte seed segmentation and the
    // chunk histogram
    "d54_bpe_byte_train" -> bpeTrainSql(8, byteLevel = true),

    // p08: the full web recipe replayed stage by stage — planted
    // banner, Gopher gate (the p04 mirror), d40 line dedup with husks
    // dropped, the d38 nll chain sourced FROM the cleaned corpus,
    // CCNet head+middle selection, d16 prefix-sum packing.
    "p08_web_pipeline" -> webRecipeSql,

    // w09: the STREAMED ingest accumulates exactly the clean table the
    // one-shot builds (ascending-id slices make incremental line dedup
    // prefix-decidable), and the corpus-global finish runs after the
    // stream drains — so the one-shot mirror is the oracle verbatim.
    "w09_stream_curation" -> webRecipeSql,

    // w14: same flow with the finish's LM training maintained
    // incrementally (per-slice lmStats partials rolled up by the
    // StatsStore) — the rollup is count-identical to the one-shot
    // training scan, so the mirror is again the p08 SQL verbatim.
    "w14_stream_stats_curation" -> webRecipeSql,
  ) ++ oracleSqlRest

  /** The p08/w09/w14 shared one-shot mirror. */
  private def webRecipeSql: String =
      s"""WITH RECURSIVE pd AS (SELECT doc_id,
           CASE WHEN doc_id % 50 = 0 THEN
             'subscribe to our newsletter' || chr(10) ||
             'cookie policy' || chr(10) || text
           ELSE text END AS text FROM documents),
         gt AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS lnn, text FROM pd),
         sig AS (SELECT doc_id,
           len(tk) AS n_tokens,
           length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
             / len(tk) AS awl,
           len(list_filter(tk,
               x -> x IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(tk) AS swr,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk) AS dtr,
           (len(lnn) - len(list_distinct(lnn)))::DOUBLE / len(lnn) AS dlr
         FROM gt),
         gr AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM gt),
         gc AS (SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS tnm
           FROM gc GROUP BY 1),
         g AS (SELECT p.doc_id, p.text FROM pd p
           JOIN sig s USING (doc_id) JOIN mass m USING (doc_id)
           WHERE s.n_tokens >= 20 AND s.n_tokens <= 100000
             AND s.awl >= 2.0 AND s.awl <= 12.0 AND s.swr >= 0.05
             AND s.dtr <= 0.60 AND s.dlr <= 0.30 AND m.tnm <= 0.20),
         tl AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM g),
         lo AS (SELECT doc_id, i - 1 AS pos, md5(ln[i]) AS lh,
             lpad(doc_id::VARCHAR, 20, '0') || ':' ||
               lpad((i - 1)::VARCHAR, 10, '0') AS k
           FROM (SELECT doc_id, ln,
             unnest(generate_series(1, len(ln))) AS i FROM tl)),
         lg AS (SELECT lh, min(k) AS canon FROM lo GROUP BY 1
           HAVING count(*) >= 2),
         lr AS (SELECT doc_id, pos FROM lo JOIN lg USING (lh)
           WHERE k <> canon),
         lrd AS (SELECT doc_id, list(pos) AS dp FROM lr GROUP BY 1),
         lcl AS (SELECT tl.doc_id,
             list_transform(list_filter(generate_series(1, len(ln)),
               i -> NOT list_contains(dp, i - 1)), i -> ln[i]) AS keptl
           FROM tl JOIN lrd USING (doc_id)),
         clean AS (SELECT g.doc_id,
             CASE WHEN lcl.doc_id IS NOT NULL
               THEN coalesce(array_to_string(keptl, chr(10)), '')
               ELSE g.text END AS text
           FROM g LEFT JOIN lcl ON g.doc_id = lcl.doc_id
           WHERE CASE WHEN lcl.doc_id IS NOT NULL
               THEN coalesce(array_to_string(keptl, chr(10)), '')
               ELSE g.text END <> ''),
         ${lmNllSql(1024, 16384, src = "clean")},
         r2 AS (SELECT doc_id, ppl_q,
             row_number() OVER (ORDER BY ppl_q NULLS FIRST,
               doc_id NULLS FIRST) AS rk,
             count(*) OVER () AS cn FROM ppl),
         sel AS (SELECT c.doc_id,
             len(string_split(c.text, ' '))::BIGINT AS n_tokens
           FROM clean c JOIN r2 USING (doc_id)
           WHERE (r2.rk - 1) * 3 < r2.cn * 2),
         cum AS (SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id) AS c FROM sel)
         SELECT doc_id, n_tokens, (c - n_tokens)::BIGINT AS start_offset,
           ((c - n_tokens) // 512)::BIGINT AS first_seq,
           ((c - 1) // 512)::BIGINT AS last_seq
         FROM cum"""

  private def oracleSqlRest: Map[String, String] = Map(
    // Mirrors Dedup.stripContaminatedSpans over the d23 plant: bench
    // 8-gram md5 set -> corpus window hits -> per-doc span merge ->
    // token filter + reassembly (the d34 machinery, no canonical
    // retention — every contaminated window strips).
    "d41_strip_contaminated" -> {
      val g = 8
      val parts = (0 until g).map(k => s"tk[i+$k]").mkString(", ")
      s"""WITH c AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' $ProbePassage'
                ELSE text END AS text
           FROM documents WHERE doc_id % 97 <> 0),
         bench AS (SELECT text FROM documents WHERE doc_id % 97 = 0
           UNION ALL SELECT '$ProbePassage'),
         bt AS (SELECT string_split(text, ' ') AS tk FROM bench),
         bg AS (SELECT DISTINCT
             md5(concat_ws(' ', $parts)) AS gh
           FROM (SELECT tk, unnest(generate_series(1, len(tk) - ${g - 1})) AS i
             FROM bt WHERE len(tk) >= $g)),
         t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM c),
         occ AS (SELECT doc_id, i - 1 AS pos,
             md5(concat_ws(' ', $parts)) AS gh
           FROM (SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - ${g - 1})) AS i
             FROM t WHERE len(tk) >= $g)),
         d AS (SELECT doc_id, pos FROM occ JOIN bg USING (gh)),
         f AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               + $g THEN 1 ELSE 0 END AS nw
           FROM d),
         s AS (SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM f),
         sp AS (SELECT doc_id, span, min(pos) AS st,
             max(pos) + ${g - 1} AS en FROM s GROUP BY 1, 2),
         spd AS (SELECT doc_id, list(struct_pack(st := st, en := en))
             AS spans FROM sp GROUP BY 1),
         cl AS (SELECT t.doc_id,
             list_transform(list_filter(generate_series(0, len(tk) - 1),
               p -> len(list_filter(spans,
                 sx -> sx.st <= p AND p <= sx.en)) = 0),
               p -> tk[p + 1]) AS kept, len(tk) AS n0
           FROM t JOIN spd ON t.doc_id = spd.doc_id)
         SELECT doc_id, (n0 - len(kept))::INT AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
         FROM cl"""
    },

    // Mirrors Dedup.stripDuplicatedLines: positioned line-md5 index ->
    // corpus count >= 2 -> canonical = min zero-padded id:index ->
    // non-canonical line indices dropped, text reassembled.
    "d40_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(
             CASE WHEN doc_id % 50 = 0 THEN
               'subscribe to our newsletter' || chr(10) ||
               'cookie policy' || chr(10) || text
             ELSE text END, chr(10)) AS ln
           FROM documents),
         o AS (SELECT doc_id, i - 1 AS pos, md5(ln[i]) AS lh,
             lpad(doc_id::VARCHAR, 20, '0') || ':' ||
               lpad((i - 1)::VARCHAR, 10, '0') AS k
           FROM (SELECT doc_id, ln,
             unnest(generate_series(1, len(ln))) AS i FROM t)),
         g AS (SELECT lh, min(k) AS canon FROM o GROUP BY 1
           HAVING count(*) >= 2),
         r AS (SELECT doc_id, pos FROM o JOIN g USING (lh) WHERE k <> canon),
         rd AS (SELECT doc_id, list(pos) AS dp FROM r GROUP BY 1),
         cl AS (SELECT t.doc_id,
             list_transform(list_filter(generate_series(1, len(ln)),
               i -> NOT list_contains(dp, i - 1)), i -> ln[i]) AS kept,
             len(ln) AS n0
           FROM t JOIN rd USING (doc_id))
         SELECT doc_id, (n0 - len(kept))::INT AS n_removed_lines,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
         FROM cl""",

    // d44: batch docs' distinct-index-candidate counts — the probe of
    // the pre-append index, replayed one-shot over the planted corpus
    "d44_incremental_neardup" ->
      s"""WITH ${bandIdxCtes()},
         cand AS (SELECT DISTINCT b.doc_id, i.doc_id AS o
           FROM banded b JOIN banded i ON b.band = i.band
           WHERE b.is_batch AND NOT i.is_batch)
         SELECT doc_id, count(*) AS n_index_candidates
         FROM cand GROUP BY 1""",

    // d51: compaction is verdict-neutral, so the mirror is the plain
    // banded-pair probe of the batch against the FULL post-append
    // index (batch docs included, self-pairs excluded)
    "d51_band_compaction" ->
      s"""WITH ${bandIdxCtes()},
         cand AS (SELECT DISTINCT b.doc_id, i.doc_id AS o
           FROM banded b JOIN banded i ON b.band = i.band
           WHERE b.is_batch AND i.doc_id <> b.doc_id)
         SELECT doc_id, count(*) AS n_index_candidates
         FROM cand GROUP BY 1""",

    // d52: the slice-aware keep-the-best mirror (the w08 oracle
    // device with the d42 policy applied): slice A (doc_id % 8 = 0)
    // resolves against the original index; slice B resolves against
    // the index as slice A left it — minus slice A's tombstones, plus
    // slice A's appended winners
    "d52_ingest_resolve" -> resolveTwoSliceSql,

    // w11: the streamed flow accumulates exactly the first-delivery
    // verdicts of the same two slices (the replay is absorbed
    // everywhere), so the mirror IS the d52 mirror
    "w11_resolve_stream" -> resolveTwoSliceSql,



    // p12: the whole modern stack mirrored in ONE chain — nbSql gives
    // the marked store (mk) + classifier verdicts (out); bandIdxCtes
    // over mk gives the planted text (pl) + bands; the batch/corpus
    // split, exact plant, URL dedup (urlCurationCtes over bt), bloom
    // stage (exact text membership — the bloom's false positives are
    // settled by the verifying join, so membership IS text equality),
    // band drop, classifier gate, order-5 LM thirds over the
    // survivors (lmNllSql under tag=lm), PageRank caps, weighted
    // quota, and the d16 pack tail
    "p12_curation_capstone" -> capstoneSql,

    // w12: the streamed ingest half accumulates exactly the one-shot
    // survivor set (ascending slices make min-id-per-curl URL dedup
    // prefix-decidable; bloom/band verdicts are slice-independent;
    // the replay is absorbed by the curl index and the sink
    // anti-join), and the corpus-global finish is the same code — so
    // the mirror IS the p12 mirror
    "w12_stream_capstone" -> capstoneSql,


    // d45: the URL pipeline mirrored end to end — synthesize, strip,
    // case-fold, keep min id per canonical url, 3-per-domain quota in
    // md5-shuffled order (the d17 mirror over the survivor set)
    "d45_url_curation" ->
      s"""WITH ${urlCurationCtes()},
         r AS (SELECT doc_id, curl, domain, row_number() OVER (
             PARTITION BY domain
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM s)
         SELECT doc_id, curl, domain FROM r WHERE rn <= 3""",

    // d49: the bloom bitmap mirrored bit for bit — same salted md5
    // cells, 32-bit words via bit_or, k-of-k hit rule, then the exact
    // verifying join as ground truth
    "d49_bloom_membership" -> bloomMembershipSql,

    // d55: identical verdicts by construction — the engine settles the
    // candidates against the persisted fingerprint table instead of a
    // corpus scan, but the truth (key ∈ corpus fingerprint set) is the
    // same; the mirror need not model the table at all
    "d55_fingerprint_membership" -> bloomMembershipSql,

    // d48: the same 8 unrolled integer PageRank rounds — floor
    // division everywhere, so ranks match bit for bit
    "d48_domain_pagerank" ->
      s"""WITH $pageRankCtes
         SELECT n AS domain, r AS rank_q FROM pr8""",

    // p11: the d48 ranks scaled to per-domain caps, driving the d45
    // survivor set through the weighted quota
    "p11_ranked_quota" ->
      s"""WITH $pageRankCtes,
         caps AS (SELECT n || '.example.com' AS domain,
             (r // 300000000)::BIGINT AS cap FROM pr8),
         ${urlCurationCtes()},
         r2 AS (SELECT doc_id, curl, domain, row_number() OVER (
             PARTITION BY domain
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM s)
         SELECT doc_id, curl, domain FROM r2
         LEFT JOIN caps USING (domain)
         WHERE rn <= coalesce(cap, 0)""",

    // w10: the bloom as each slice SAW it — a probe cell hits iff any
    // corpus key (sl -1) or strictly-earlier-slice batch key (sl =
    // doc_id % 3) owns that cell; the replay is absorbed (first
    // verdict wins), so only first-delivery rows appear
    "w10_bloom_stream" -> {
      def cells(src: String, slExpr: String) = (0 until 3).map(s =>
        s"""SELECT $slExpr AS sl,
           ('0x' || substr(md5('$s' || key), 1, 12))::BIGINT % 65536 AS h
         FROM $src""").mkString(" UNION ALL ")
      def pcells = (0 until 3).map(s =>
        s"""SELECT doc_id, sl, $s AS j,
           ('0x' || substr(md5('$s' || key), 1, 12))::BIGINT % 65536 AS h
         FROM bk""").mkString(" UNION ALL ")
      s"""WITH bk AS MATERIALIZED (SELECT d.doc_id, d.doc_id % 3 AS sl,
           md5(CASE WHEN d.doc_id % 8 = 0 AND n.text IS NOT NULL
             THEN n.text ELSE d.text END) AS key
         FROM documents d LEFT JOIN documents n
           ON n.doc_id = d.doc_id + 1
         WHERE d.doc_id % 4 = 0),
         ck AS (SELECT md5(text) AS key FROM documents
           WHERE doc_id % 4 <> 0),
         ac AS MATERIALIZED (${cells("ck", "-1")}
           UNION ALL ${cells("bk", "sl")}),
         pc AS (${pcells}),
         hit AS (SELECT pc.doc_id, pc.j,
             max(CASE WHEN ac.h IS NOT NULL THEN 1 ELSE 0 END) AS hj
           FROM pc LEFT JOIN ac ON ac.h = pc.h AND ac.sl < pc.sl
           GROUP BY pc.doc_id, pc.j)
         SELECT doc_id, sum(hj) = 3 AS maybe_member
         FROM hit GROUP BY 1"""
    },

    // w08: the incremental semantic — each batch doc's candidates are
    // the index docs PLUS batch docs from strictly earlier doc_id % 3
    // slices (appended before its slice arrived); same-slice docs and
    // the replay contribute nothing
    "w08_band_stream_dedup" ->
      s"""WITH ${bandIdxCtes()},
         cand AS (SELECT DISTINCT b.doc_id, x.doc_id AS o
           FROM banded b JOIN banded x ON b.band = x.band
           WHERE b.is_batch
             AND (NOT x.is_batch OR x.doc_id % 3 < b.doc_id % 3)),
         cc AS (SELECT doc_id, count(*) AS n FROM cand GROUP BY 1)
         SELECT bd.doc_id,
           coalesce(cc.n, 0)::BIGINT AS n_prior_candidates
         FROM (SELECT DISTINCT doc_id FROM banded WHERE is_batch) bd
         LEFT JOIN cc USING (doc_id)""",

    // w13: the one-shot transition bucket counts over the WHOLE corpus
    // — if any slice were lost, double-counted on replay, or
    // mis-compacted, the counts diverge; hash-match IS the
    // stream+replay-equals-one-shot proof (the w08/w10 device)
    "w13_stream_lm_stats" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
         trn AS (SELECT array_to_string(tk[i:i+0], ' ') AS a, tk[i+1] AS b
           FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
             FROM t))
         SELECT 'ctx' AS kind,
           ('0x' || substr(md5(a), 1, 12))::BIGINT % 1024 AS bucket,
           count(*)::BIGINT AS cnt
         FROM trn GROUP BY 2
         UNION ALL
         SELECT 'pair' AS kind,
           ('0x' || substr(md5(a || ' ' || b), 1, 12))::BIGINT % 16384
             AS bucket,
           count(*)::BIGINT AS cnt
         FROM trn GROUP BY 2""",

    // d56: the d47 mirror's training counts as-is (token rows + the
    // bucket = -1 prior row) — the incrementally maintained artifact
    // must equal the one-shot nbStats
    "d56_nb_stats_incremental" ->
      s"""WITH mk AS MATERIALIZED (SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN text || ' hqmarker hqmarker'
             WHEN doc_id % 5 = 0 THEN text || ' junkmarker junkmarker'
             WHEN doc_id % 7 = 0 THEN text || ' hqmarker'
             ELSE text END AS text
         FROM documents),
         trt AS (SELECT doc_id % 10 = 0 AS pos,
             unnest(string_split(text, ' ')) AS t
           FROM mk WHERE doc_id % 5 = 0),
         tstat AS (SELECT
             ('0x' || substr(md5(t), 1, 12))::BIGINT % 4096 AS bucket,
             sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_pos,
             sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)::BIGINT AS n_neg
           FROM trt GROUP BY 1),
         dstat AS (SELECT
             sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS dp,
             sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS dn
           FROM mk WHERE doc_id % 5 = 0)
         SELECT bucket, n_pos, n_neg FROM tstat
         UNION ALL
         SELECT -1::BIGINT AS bucket, dp AS n_pos, dn AS n_neg FROM dstat""",

    // d38: the shared nll chain's final frame, as-is
    "d38_lm_perplexity" ->
      s"WITH ${lmNllSql(1024, 16384)} SELECT * FROM ppl",

    // p14: identical scoring by construction — the engine's stats
    // come from the store's rollup (halves + replays + compaction),
    // but the counts are the same, so the mirror IS d38's
    "p14_incremental_lm_scoring" ->
      s"WITH ${lmNllSql(1024, 16384)} SELECT * FROM ppl",

    // d43: the same chain at order 3
    "d43_lm_trigram" ->
      s"WITH ${lmNllSql(4096, 16384, order = 3)} SELECT * FROM ppl",

    // d46: the same chain at CCNet's published order 5
    "d46_lm_order5" ->
      s"WITH ${lmNllSql(16384, 16384, order = 5)} SELECT * FROM ppl",

    // d47: the planted-marker NB quality classifier — same one-pass
    // counts and integer qlog2 chain, independently in SQL
    "d47_quality_classifier" ->
      s"WITH ${nbSql(512)} SELECT * FROM out",

    // p10: the d47 chain filtered to pred_hq, then the d16 pack over
    // the survivor set (cumulative sums over kept docs only; token
    // counts over the MARKED text, as on the Spark side)
    "p10_classifier_pack" ->
      s"""WITH ${nbSql(512)},
         kept AS (SELECT doc_id FROM out WHERE pred_hq),
         t2 AS (SELECT mk.doc_id,
             len(string_split(mk.text, ' '))::BIGINT AS n_tokens
           FROM mk JOIN kept USING (doc_id)),
         c2 AS (SELECT doc_id, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS cum
           FROM t2)
         SELECT doc_id, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq
         FROM c2""",

    // p09: the p06 band split over the order-5 scores
    "p09_ccnet_order5" ->
      s"""WITH ${lmNllSql(16384, 16384, order = 5)},
         r AS (SELECT doc_id, ppl_q,
             row_number() OVER (ORDER BY ppl_q NULLS FIRST,
               doc_id NULLS FIRST) AS rk,
             count(*) OVER () AS cn FROM ppl)
         SELECT doc_id, ppl_q,
           CASE WHEN (rk - 1) * 3 < cn THEN 'head'
             WHEN (rk - 1) * 3 < cn * 2 THEN 'middle'
             ELSE 'tail' END AS band
         FROM r""",

    // p06: d38's scores through d36's exact-thirds band arithmetic
    "p06_ccnet_pipeline" ->
      s"""WITH ${lmNllSql(1024, 16384)},
         r AS (SELECT doc_id, ppl_q,
             row_number() OVER (ORDER BY ppl_q NULLS FIRST,
               doc_id NULLS FIRST) AS rk,
             count(*) OVER () AS cn FROM ppl)
         SELECT doc_id, ppl_q,
           CASE WHEN (rk - 1) * 3 < cn THEN 'head'
             WHEN (rk - 1) * 3 < cn * 2 THEN 'middle'
             ELSE 'tail' END AS band
         FROM r""",

    "d01_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS copies FROM documents GROUP BY 1""",
    "d02_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subtokens,
         length(text) AS n_text_chars FROM documents""",
    "d03_quality" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
           / len(string_split(text, ' ')) AS avg_word_len,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','or','and','of','to','in','is')))::DOUBLE
           / len(string_split(text, ' ')) AS stopword_ratio
         FROM documents""",
    "d04_langid" ->
      """SELECT doc_id, lang AS declared_lang, en_hits, de_hits, es_hits,
         CASE WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
              WHEN de_hits >= es_hits THEN 'de' ELSE 'es' END AS pred_lang
         FROM (SELECT doc_id, lang,
           len(list_filter(string_split(text, ' '), t -> t IN ('the','a','or'))) AS en_hits,
           len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und'))) AS de_hits,
           len(list_filter(string_split(text, ' '), t -> t IN ('el','la','los'))) AS es_hits
         FROM documents)""",
    "d05_fingerprint" ->
      s"""SELECT doc_id,
         md5(array_to_string(list_sort($tkSql), ' ')) AS fingerprint
         FROM documents""",
    "d06_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, n_chars, $tkSql AS tk FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.tk, b.tk))::DOUBLE
             / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS jaccard
         FROM t a JOIN t b ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
             / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) > 0.5""",
    "d07_minhash_lsh" ->
      s"""WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents),
         banded AS (SELECT doc_id,
           unnest([${(0 until 3).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, ${shingleMinhashSql(2 * b + 1)}))")
             .mkString(", ")}]) AS band
         FROM sh),
         cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS o_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id <> b.doc_id)
         SELECT doc_id, count(*) AS n_candidates FROM cand GROUP BY 1""",
    "d08_simhash" ->
      s"""WITH h AS (SELECT doc_id,
           list_transform($tkSql, t -> ('0x' || substr(md5(t), 1, 4))::INTEGER) AS th
         FROM documents)
         SELECT doc_id, ${(0 until 16).map(b =>
           s"(CASE WHEN 2 * len(list_filter(th, x -> ((x >> $b) & 1) = 1)) > len(th) THEN ${1 << b} ELSE 0 END)")
           .mkString(" + ")} AS simhash
         FROM h""",
    "p01_clean_corpus" ->
      """WITH q AS (SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(string_split(text, ' ')) AS stopword_ratio
         FROM documents),
         kept AS (SELECT doc_id, text, n_tokens FROM q
           WHERE n_tokens >= 20 AND stopword_ratio < 0.5),
         ded AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY md5(text)),
         surv AS (SELECT k.* FROM kept k JOIN ded ON k.doc_id = ded.keep_id)
         SELECT doc_id, n_tokens,
           CASE WHEN en >= de AND en >= es THEN 'en'
                WHEN de >= es THEN 'de' ELSE 'es' END AS pred_lang
         FROM (SELECT doc_id, n_tokens,
           len(list_filter(string_split(text, ' '), t -> t IN ('the','a','or'))) AS en,
           len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und'))) AS de,
           len(list_filter(string_split(text, ' '), t -> t IN ('el','la','los'))) AS es
         FROM surv)""",
    "p02_pretrain_pipeline" ->
      s"""WITH q AS (SELECT doc_id, text, source FROM (
           SELECT doc_id, text, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','or','and','of','to','in','is')))::DOUBLE
               / len(string_split(text, ' ')) AS swr
           FROM documents) WHERE n_tokens >= 20 AND swr < 0.5),
         sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM q),
         banded AS (SELECT doc_id,
           unnest([${(0 until 3).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, ${shingleMinhashSql(2 * b + 1)}))")
             .mkString(", ")}]) AS band
         FROM sh),
         dominated AS (SELECT DISTINCT b.doc_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         ded AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM dominated)),
         train AS (SELECT * FROM ded
           WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 < 80),
         bal AS (SELECT doc_id, text FROM (
           SELECT doc_id, text, row_number() OVER (
             PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM train) WHERE rn <= 15),
         t AS (SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens FROM bal),
         c AS (SELECT doc_id, n_tokens,
           (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         FROM t)
         SELECT doc_id, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq
         FROM c""",
    // p03 replays the fused pipeline semantically: same quality gate
    // and dedup as p01/p02, then the chunk grid and a plain running
    // sum over the (doc_id, chunk_idx)-ordered chunk stream — the
    // engine's closed-form offsets must equal the straightforward
    // window-function form exactly (all-integer arithmetic).
    "p03_chunked_pretrain" ->
      """WITH q AS (SELECT doc_id, text FROM (
           SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','or','and','of','to','in','is')))::DOUBLE
               / len(string_split(text, ' ')) AS swr
           FROM documents) WHERE n_tokens >= 20 AND swr < 0.5),
         ded AS (SELECT q.doc_id, q.text FROM q
           JOIN (SELECT min(doc_id) AS keep_id FROM q GROUP BY md5(text)) k
           ON q.doc_id = k.keep_id),
         t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM ded),
         n AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
           (CASE WHEN len(tk) <= 64 THEN 1
                 ELSE ((len(tk) - 64 + 47) // 48) + 1 END)::BIGINT AS nc
           FROM t),
         s AS (SELECT doc_id, tk, n, nc, n + (nc - 1) * 16 AS s FROM n),
         c AS (SELECT doc_id, tk, n, nc,
           (sum(s) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - s
             AS base
           FROM s),
         e AS (SELECT doc_id, tk, n, base,
           unnest(generate_series(1, nc)) AS i FROM c)
         SELECT doc_id, i - 1 AS chunk_idx,
           least(64, n - (i - 1) * 48) AS chunk_tokens,
           md5(array_to_string(tk[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           base + (i - 1) * 64 AS start_offset,
           (base + (i - 1) * 64) // 512 AS first_seq,
           (base + (i - 1) * 64 + least(64, n - (i - 1) * 48) - 1) // 512
             AS last_seq
         FROM e""",
    "d11_neardup_groups" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents),
         banded AS (SELECT doc_id,
           unnest([${(0 until 3).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, ${shingleMinhashSql(2 * b + 1)}))")
             .mkString(", ")}]) AS band
         FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         edges AS (SELECT a_id AS x, b_id AS y FROM cand
           UNION SELECT b_id, a_id FROM cand),
         reach(id, lbl) AS (
           SELECT DISTINCT x, x FROM edges
           UNION
           SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.id),
         grp AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id)
         SELECT g.id AS doc_id, g.group_id, s.group_size
         FROM grp g JOIN (SELECT group_id, count(*) AS group_size
           FROM grp GROUP BY 1) s USING (group_id)""",

    // d42: the d11 components with the keep-longest policy on top
    "d42_quality_resolve" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents),
         banded AS (SELECT doc_id,
           unnest([${(0 until 3).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, ${shingleMinhashSql(2 * b + 1)}))")
             .mkString(", ")}]) AS band
         FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         edges AS (SELECT a_id AS x, b_id AS y FROM cand
           UNION SELECT b_id, a_id FROM cand),
         reach(id, lbl) AS (
           SELECT DISTINCT x, x FROM edges
           UNION
           SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.id),
         grp AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id),
         sc AS (SELECT g.id AS doc_id, g.group_id, d.n_chars
           FROM grp g JOIN documents d ON g.id = d.doc_id),
         r AS (SELECT doc_id, group_id, n_chars,
             row_number() OVER (PARTITION BY group_id
               ORDER BY n_chars DESC, doc_id ASC) AS rn FROM sc)
         SELECT doc_id, group_id, n_chars, rn = 1 AS keep FROM r""",
    "d12_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS ln, text FROM documents),
         narrow AS (SELECT doc_id,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk) AS dup_token_ratio,
           (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln) AS dup_line_ratio
         FROM t),
         g AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM t),
         gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS top_ngram_mass
           FROM gc GROUP BY 1)
         SELECT n.doc_id, n.dup_token_ratio, n.dup_line_ratio, m.top_ngram_mass
         FROM narrow n JOIN mass m USING (doc_id)""",
    "d31_lsh_contamination" ->
      s"""WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents WHERE doc_id % 97 <> 0),
         bsh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents WHERE doc_id % 97 = 0),
         cband AS (SELECT doc_id,
           unnest([${(0 until 6).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(b)}))")
             .mkString(", ")}]) AS band FROM sh),
         bband AS (SELECT doc_id AS bench_id,
           unnest([${(0 until 6).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(b)}))")
             .mkString(", ")}]) AS band FROM bsh),
         m AS (SELECT DISTINCT c.doc_id, b.bench_id
           FROM cband c JOIN bband b USING (band))
         SELECT doc_id, count(*) AS n_bench_matches FROM m GROUP BY 1""",
    // Mirrors Dedup.duplicatedSpans: positioned 8-gram md5 index ->
    // corpus-wide count >= 2 -> per-doc merge of windows overlapping or
    // adjacent (pos gap <= spanTokens) -> per-doc span rollup.
    "d32_dup_spans" -> {
      val g = 8
      val parts = (0 until g).map(k => s"tk[i+$k]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         occ AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tk) - ${g - 1}),
             i -> struct_pack(pos := i - 1,
               gh := md5(concat_ws(' ', $parts))))) AS o
           FROM t WHERE len(tk) >= $g),
         o2 AS (SELECT doc_id, o.pos AS pos, o.gh AS gh FROM occ),
         gc AS (SELECT gh FROM o2 GROUP BY gh HAVING count(*) >= 2),
         d AS (SELECT doc_id, pos FROM o2 JOIN gc USING (gh)),
         f AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               + $g THEN 1 ELSE 0 END AS nw
           FROM d),
         s AS (SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM f),
         sp AS (SELECT doc_id, span, min(pos) AS st,
             max(pos) + ${g - 1} AS en FROM s GROUP BY 1, 2)
         SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
           sum(en - st + 1)::BIGINT AS dup_span_tokens,
           max(en - st + 1)::INT AS longest_dup_span
         FROM sp GROUP BY 1"""
    },

    // Mirrors Dedup.stripDuplicatedSpans: canonical = min zero-padded
    // "id:pos" key per duplicated gram; spans from NON-canonical
    // occurrences only; token filter + reassembly per affected doc.
    // coalesce on the empty-kept case: DuckDB's array_to_string([]) is
    // NULL where Spark's concat_ws is '' — a fully-duplicated doc must
    // hash the empty string in both engines.
    "d34_strip_spans" -> {
      val g = 8
      val parts = (0 until g).map(k => s"tk[i+$k]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         occ AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tk) - ${g - 1}),
             i -> struct_pack(pos := i - 1,
               gh := md5(concat_ws(' ', $parts))))) AS o
           FROM t WHERE len(tk) >= $g),
         o2 AS (SELECT doc_id, o.pos AS pos, o.gh AS gh,
             lpad(doc_id::VARCHAR, 20, '0') || ':' ||
               lpad(o.pos::VARCHAR, 10, '0') AS k
           FROM occ),
         gc AS (SELECT gh, min(k) AS canon FROM o2 GROUP BY gh
           HAVING count(*) >= 2),
         d AS (SELECT doc_id, pos FROM o2 JOIN gc USING (gh)
           WHERE k <> canon),
         f AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               + $g THEN 1 ELSE 0 END AS nw
           FROM d),
         s AS (SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM f),
         sp AS (SELECT doc_id, span, min(pos) AS st,
             max(pos) + ${g - 1} AS en FROM s GROUP BY 1, 2),
         spd AS (SELECT doc_id, list(struct_pack(st := st, en := en))
             AS spans FROM sp GROUP BY 1),
         cl AS (SELECT t.doc_id,
             list_transform(list_filter(generate_series(0, len(tk) - 1),
               p -> len(list_filter(spans,
                 sx -> sx.st <= p AND p <= sx.en)) = 0),
               p -> tk[p + 1]) AS kept, len(tk) AS n0
           FROM t JOIN spd ON t.doc_id = spd.doc_id)
         SELECT doc_id, (n0 - len(kept))::INT AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
         FROM cl"""
    },

    // p04 replays the recipe stage by stage: the d28 gate, p02's
    // dominated-drop banding, d21's redaction chain (a no-op on the
    // natural fixture text, but the regex chain must still be applied
    // identically), d29's integer-sqrt temperature targets, and the
    // d16 running-sum packing — all over each stage's survivors.
    "p04_fineweb_pipeline" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS ln, text FROM documents),
         sig AS (SELECT doc_id,
           len(tk) AS n_tokens,
           length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
             / len(tk) AS awl,
           len(list_filter(tk,
               x -> x IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(tk) AS swr,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk) AS dtr,
           (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln) AS dlr
         FROM t),
         gr AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM t),
         gc AS (SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS tnm
           FROM gc GROUP BY 1),
         g AS (SELECT d.doc_id, d.lang, d.text FROM documents d
           JOIN sig s USING (doc_id) JOIN mass m USING (doc_id)
           WHERE s.n_tokens >= 20 AND s.n_tokens <= 100000
             AND s.awl >= 2.0 AND s.awl <= 12.0 AND s.swr >= 0.05
             AND s.dtr <= 0.60 AND s.dlr <= 0.30 AND m.tnm <= 0.20),
         sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM g),
         banded AS (SELECT doc_id,
           unnest([${(0 until 3).map(b =>
             s"md5(concat_ws(',', '$b', ${shingleMinhashSql(2 * b)}, ${shingleMinhashSql(2 * b + 1)}))")
             .mkString(", ")}]) AS band
         FROM sh),
         dominated AS (SELECT DISTINCT b.doc_id
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         ded AS (SELECT * FROM g
           WHERE doc_id NOT IN (SELECT doc_id FROM dominated)),
         red AS (SELECT doc_id, lang,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<PII>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<PII>', 'g'),
             '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PII>', 'g') AS rt
           FROM ded),
         lt AS (SELECT lang, count(*) AS n,
           CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM red GROUP BY 1),
         tg AS (SELECT lang,
           least(n, (150 * w) // (SELECT sum(w)::BIGINT FROM lt))::BIGINT
             AS target FROM lt),
         mixed AS (SELECT r.doc_id, r.rt FROM
           (SELECT doc_id, lang, rt, row_number() OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM red) r
           JOIN tg USING (lang) WHERE rn <= target),
         pt AS (SELECT doc_id,
           len(string_split(rt, ' '))::BIGINT AS n_tokens FROM mixed),
         c AS (SELECT doc_id, n_tokens,
           (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
           FROM pt)
         SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq, (cum - 1) // 512 AS last_seq
         FROM c""",
    "w03_gopher_stream" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS ln, text FROM documents),
         sig AS (SELECT doc_id,
           len(tk) AS n_tokens,
           length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
             / len(tk) AS avg_word_len,
           len(list_filter(tk,
               x -> x IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(tk) AS stopword_ratio,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk)
             AS dup_token_ratio,
           (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln)
             AS dup_line_ratio
         FROM t),
         g AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM t),
         gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE
           AS top_ngram_mass FROM gc GROUP BY 1)
         SELECT s.doc_id, s.n_tokens, s.avg_word_len, s.stopword_ratio,
           s.dup_token_ratio, s.dup_line_ratio, m.top_ngram_mass
         FROM sig s JOIN mass m USING (doc_id)
         WHERE s.n_tokens >= 20 AND s.n_tokens <= 100000
           AND s.avg_word_len >= 2.0 AND s.avg_word_len <= 12.0
           AND s.stopword_ratio >= 0.05
           AND s.dup_token_ratio <= 0.60 AND s.dup_line_ratio <= 0.30
           AND m.top_ngram_mass <= 0.20""",
    // p05 replays the recipe stage by stage: the d28 gate's survivor
    // set, the d34 strip chain computed WITHIN those survivors, the
    // husk drop, and the d16 running-sum packing in id order.
    "p05_exactsubstr_pipeline" -> {
      val g = 8
      val parts = (0 until g).map(k => s"tk[i+$k]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS ln, text FROM documents),
         sig AS (SELECT doc_id,
           len(tk) AS n_tokens,
           length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
             / len(tk) AS avg_word_len,
           len(list_filter(tk,
               x -> x IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(tk) AS stopword_ratio,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk)
             AS dup_token_ratio,
           (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln)
             AS dup_line_ratio
         FROM t),
         gg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM t),
         ggc AS (SELECT doc_id, gram, count(*) AS c FROM gg GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE
           AS top_ngram_mass FROM ggc GROUP BY 1),
         q AS (SELECT s.doc_id FROM sig s JOIN mass m USING (doc_id)
           WHERE s.n_tokens >= 20 AND s.n_tokens <= 100000
             AND s.avg_word_len >= 2.0 AND s.avg_word_len <= 12.0
             AND s.stopword_ratio >= 0.05
             AND s.dup_token_ratio <= 0.60 AND s.dup_line_ratio <= 0.30
             AND m.top_ngram_mass <= 0.20),
         t0 AS (SELECT t.doc_id, t.text, t.tk FROM t JOIN q USING (doc_id)),
         occ AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tk) - ${g - 1}),
             i -> struct_pack(pos := i - 1,
               gh := md5(concat_ws(' ', $parts))))) AS o
           FROM t0 WHERE len(tk) >= $g),
         o2 AS (SELECT doc_id, o.pos AS pos, o.gh AS gh,
             lpad(doc_id::VARCHAR, 20, '0') || ':' ||
               lpad(o.pos::VARCHAR, 10, '0') AS k
           FROM occ),
         sgc AS (SELECT gh, min(k) AS canon FROM o2 GROUP BY gh
           HAVING count(*) >= 2),
         sd AS (SELECT doc_id, pos FROM o2 JOIN sgc USING (gh)
           WHERE k <> canon),
         sf AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               + $g THEN 1 ELSE 0 END AS nw
           FROM sd),
         ss AS (SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM sf),
         ssp AS (SELECT doc_id, span, min(pos) AS st,
             max(pos) + ${g - 1} AS en FROM ss GROUP BY 1, 2),
         spd AS (SELECT doc_id, list(struct_pack(st := st, en := en))
             AS spans FROM ssp GROUP BY 1),
         scl AS (SELECT t0.doc_id,
             list_transform(list_filter(generate_series(0, len(tk) - 1),
               p -> len(list_filter(spans,
                 sx -> sx.st <= p AND p <= sx.en)) = 0),
               p -> tk[p + 1]) AS kept
           FROM t0 JOIN spd ON t0.doc_id = spd.doc_id),
         stripped AS (SELECT doc_id,
             coalesce(array_to_string(kept, ' '), '') AS clean FROM scl),
         untouched AS (SELECT doc_id, text AS clean FROM t0
           WHERE doc_id NOT IN (SELECT doc_id FROM spd)),
         cleanu AS (SELECT * FROM untouched UNION ALL
           SELECT doc_id, clean FROM stripped WHERE clean <> ''),
         pt AS (SELECT doc_id,
           len(string_split(clean, ' '))::BIGINT AS n_tokens FROM cleanu),
         pc AS (SELECT doc_id, n_tokens,
           (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         FROM pt)
         SELECT doc_id, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq
         FROM pc"""
    },
    "d28_gopher_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
           string_split(text, chr(10)) AS ln, text FROM documents),
         sig AS (SELECT doc_id,
           len(tk) AS n_tokens,
           length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
             / len(tk) AS avg_word_len,
           len(list_filter(tk,
               x -> x IN ('the','a','or','and','of','to','in','is')))::DOUBLE
             / len(tk) AS stopword_ratio,
           (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk)
             AS dup_token_ratio,
           (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln)
             AS dup_line_ratio
         FROM t),
         g AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [text]
           ELSE list_transform(generate_series(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1])) END) AS gram FROM t),
         gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         mass AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE
           AS top_ngram_mass FROM gc GROUP BY 1)
         SELECT s.doc_id, s.n_tokens, s.avg_word_len, s.stopword_ratio,
           s.dup_token_ratio, s.dup_line_ratio, m.top_ngram_mass
         FROM sig s JOIN mass m USING (doc_id)
         WHERE s.n_tokens >= 20 AND s.n_tokens <= 100000
           AND s.avg_word_len >= 2.0 AND s.avg_word_len <= 12.0
           AND s.stopword_ratio >= 0.05
           AND s.dup_token_ratio <= 0.60 AND s.dup_line_ratio <= 0.30
           AND m.top_ngram_mass <= 0.20""",
    "d29_temperature_mix" ->
      """WITH t AS (SELECT lang, count(*) AS n,
           CAST(floor(sqrt(count(*))) AS BIGINT) AS w
           FROM documents GROUP BY 1),
         tg AS (SELECT lang,
           least(n, (300 * w) // (SELECT sum(w)::BIGINT FROM t))::BIGINT
             AS mix_target
           FROM t),
         r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM documents)
         SELECT r.doc_id, r.lang, tg.mix_target
         FROM r JOIN tg USING (lang) WHERE rn <= mix_target""",
    "d36_score_bands" ->
      """WITH r AS (SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars NULLS FIRST,
             doc_id NULLS FIRST) AS rk,
           count(*) OVER () AS n FROM documents)
         SELECT doc_id, n_chars,
           CASE WHEN (rk - 1) * 3 < n THEN 'head'
             WHEN (rk - 1) * 3 < n * 2 THEN 'middle'
             ELSE 'tail' END AS band
         FROM r""",
    // Mirrors TextAnalysis.dsirStats + dsirScores exactly: hashed
    // bigram buckets, add-1-smoothed ratio quantized to 2^-20
    // fixed-point (identical multiply/divide parenthesization — the
    // floor of correctly-rounded double arithmetic is engine-exact),
    // integer score sum.
    "d35_dsir_scores" -> {
      val B = 256
      s"""WITH g AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
           ('0x' || substr(md5(unnest(${gramSql(2)})), 1, 12))::BIGINT % $B AS b
           FROM documents),
         bc AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS nt,
             sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END)::BIGINT AS nr
           FROM g GROUP BY 1),
         tot AS (SELECT sum(nt)::BIGINT AS ntt, sum(nr)::BIGINT AS nrt FROM bc),
         lam AS (SELECT b,
             floor(1048576.0 * ((nt + 1)::DOUBLE * (nrt + $B)::DOUBLE)
               / ((nr + 1)::DOUBLE * (ntt + $B)::DOUBLE))::BIGINT AS lq
           FROM bc, tot),
         db AS (SELECT doc_id, b, count(*)::BIGINT AS n FROM g
           WHERE NOT tgt GROUP BY 1, 2)
         SELECT doc_id, sum(n * coalesce(lq, 0))::BIGINT AS dsir_score
         FROM db LEFT JOIN lam USING (b) GROUP BY 1"""
    },

    // Mirrors TextAnalysis.bpeEncode — a genuinely independent second
    // implementation of the published batch-BPE loop as a recursive
    // CTE over DISTINCT words. Batch semantics ("merge ALL occurrences
    // of the best pair, then re-rank") is realized one-occurrence-per-
    // iteration with the CURRENT pair held until exhausted: merging an
    // occurrence of (l, r) can never create a new (l, r) occurrence
    // (the merged token l||r differs from both l and r), so leftmost-
    // until-absent reproduces the single left-to-right pass exactly,
    // and re-ranking only after exhaustion matches the batch re-rank
    // point. BpeSpec pins the Spark kernel against a brute-force
    // reference on the adversarial shapes (overlaps, created pairs).
    "d37_bpe_encode" ->
      s"""WITH RECURSIVE $bpeCtes
         SELECT t.doc_id, coalesce(len(a), 0)::INT AS n_bpe,
           md5(coalesce(array_to_string(
             list_transform(a, x -> x::VARCHAR), ' '), '')) AS ids_md5
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""",

    // p13: the d53 byte encode feeding the d16 prefix-sum packing —
    // the p07 mirror over byte-token counts
    "p13_byte_token_pack" ->
      s"""WITH RECURSIVE ${bpeBytesCtes(
            graft.operators.TextAnalysis.gpt2ByteMergesPrefix)},
         nb AS (SELECT btx.doc_id, coalesce(len(a), 0)::BIGINT AS n_bt
           FROM btx LEFT JOIN bagg ON btx.doc_id = bagg.doc_id),
         cum AS (SELECT doc_id, n_bt,
           sum(n_bt) OVER (ORDER BY doc_id) AS c FROM nb)
         SELECT doc_id, n_bt, (c - n_bt)::BIGINT AS start_offset,
           ((c - n_bt) // 512)::BIGINT AS first_seq,
           (greatest(c - 1, c - n_bt) // 512)::BIGINT AS last_seq
         FROM cum""",

    // d53: the byte-level chain — same recursive loop, byte-mapped
    // initial segmentation, chunked text, published GPT-2 merges
    "d53_bpe_byte_level" ->
      s"""WITH RECURSIVE ${bpeBytesCtes(
            graft.operators.TextAnalysis.gpt2ByteMergesPrefix)}
         SELECT btx.doc_id, coalesce(len(a), 0)::INT AS n_bpe,
           md5(coalesce(array_to_string(
             list_transform(a, x -> x::VARCHAR), ' '), '')) AS ids_md5
         FROM btx LEFT JOIN bagg ON btx.doc_id = bagg.doc_id""",

    // d50: the encode ids decoded back in SQL (chr for codepoints,
    // the surface list for merge ids) and compared to the word — the
    // inverse computed independently in both engines
    "d50_bpe_roundtrip" -> {
      val surf = graft.operators.TextAnalysis.defaultBpeMerges
        .map { case (l, r) => "'" + (l + r).replace("'", "''") + "'" }
        .mkString(", ")
      s"""WITH RECURSIVE $bpeCtes,
         dec AS (SELECT w, ids,
             list_transform(ids, id -> CASE WHEN id >= 1114112
               THEN ([$surf])[id - 1114112 + 1] ELSE chr(id) END) AS parts
           FROM enc)
         SELECT w, len(ids)::INT AS n_ids,
           array_to_string(parts, '') AS decoded,
           array_to_string(parts, '') = w AS roundtrip_ok
         FROM dec"""
    },

    // p07: the d37 encode feeding the d16 prefix-sum packing — pack
    // boundaries from REAL tokenizer counts, mirrored end to end
    "p07_bpe_pack" ->
      s"""WITH RECURSIVE $bpeCtes,
         nb AS (SELECT t.doc_id, coalesce(len(a), 0)::BIGINT AS n_bpe
           FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id),
         cum AS (SELECT doc_id, n_bpe,
           sum(n_bpe) OVER (ORDER BY doc_id) AS c FROM nb)
         SELECT doc_id, n_bpe, (c - n_bpe)::BIGINT AS start_offset,
           ((c - n_bpe) // 512)::BIGINT AS first_seq,
           (greatest(c - 1, c - n_bpe) // 512)::BIGINT AS last_seq
         FROM cum""",

    // d29's machinery with group mass = Σ per-doc token count
    "d33_weighted_mix" ->
      """WITH t AS (SELECT lang, count(*) AS n,
           CAST(floor(sqrt(sum(len(string_split(text, ' ')))::BIGINT))
             AS BIGINT) AS w
           FROM documents GROUP BY 1),
         tg AS (SELECT lang,
           least(n, (300 * w) // (SELECT sum(w)::BIGINT FROM t))::BIGINT
             AS mix_target
           FROM t),
         r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM documents)
         SELECT r.doc_id, r.lang, tg.mix_target
         FROM r JOIN tg USING (lang) WHERE rn <= mix_target""",
    "d13_rare_tokens" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
         SELECT doc_id,
           sum(CASE WHEN df < 5 THEN 1 ELSE 0 END)::DOUBLE / count(*)
             AS rare_token_ratio
         FROM tok JOIN dfreq USING (t) GROUP BY doc_id""",
    "d14_dup_ngrams" ->
      """WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(sh)) AS gram FROM sh),
         dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         SELECT doc_id,
           sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
             AS dup_ngram_ratio
         FROM g JOIN dfreq USING (gram) GROUP BY doc_id""",
    "d15_hash_split" ->
      """WITH b AS (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS bucket,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 10 AS b10
         FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           (b10 < 1) AS in_10pct
         FROM b""",
    "d17_source_quota" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents) WHERE rn <= 15""",
    "d18_token_budget" ->
      """WITH t AS (SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
           (sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
         FROM t)
         SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         WHERE cum_tokens - n_tokens < 2000""",
    "d19_upsample" ->
      """SELECT doc_id, lang,
           unnest(generate_series(1, CASE lang WHEN 'de' THEN 3
             WHEN 'es' THEN 2 ELSE 1 END)) AS copy
         FROM documents""",
    "d20_decontaminate" ->
      """WITH grams AS (SELECT doc_id,
           unnest(list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
               ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                 i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
             END)) AS g
           FROM documents),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         ov AS (SELECT doc_id, count(*) AS n
           FROM grams JOIN bg USING (g) WHERE doc_id % 97 <> 0 GROUP BY 1)
         SELECT d.doc_id, coalesce(ov.n, 0)::BIGINT AS n_shared_grams,
           coalesce(ov.n, 0) >= 2 AS contaminated
         FROM documents d LEFT JOIN ov USING (doc_id)
         WHERE d.doc_id % 97 <> 0""",
    "d23_decontaminate_8gram" ->
      s"""WITH corpus AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' $ProbePassage'
                ELSE text END AS text
           FROM documents WHERE doc_id % 97 <> 0),
         bench AS (SELECT text FROM documents WHERE doc_id % 97 = 0
           UNION ALL SELECT '$ProbePassage'),
         cg AS (SELECT doc_id, unnest(list_distinct(${gramSql(8)})) AS g
           FROM corpus),
         bg AS (SELECT DISTINCT unnest(list_distinct(${gramSql(8)})) AS g
           FROM bench),
         ov AS (SELECT doc_id, count(*) AS n FROM cg JOIN bg USING (g)
           GROUP BY 1)
         SELECT c.doc_id, coalesce(ov.n, 0)::BIGINT AS n_shared_grams,
           coalesce(ov.n, 0) >= 5 AS contaminated
         FROM corpus c LEFT JOIN ov USING (doc_id)""",
    "d22_shard_assign" ->
      """WITH b AS (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 8 AS shard
         FROM documents)
         SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard
             ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS position
         FROM b""",
    "d21_redact_pii" ->
      """WITH t AS (SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
             || (doc_id % 256)::VARCHAR || '.7 call 555-867-5309' AS text
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<PII>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PII>', 'g')) AS redacted_md5,
           (len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
            + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
            + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')))::INTEGER AS n_pii
         FROM t""",
    "d16_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
         c AS (SELECT doc_id, n_tokens,
           (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         FROM t)
         SELECT doc_id, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq
         FROM c""",
    "d24_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         n AS (SELECT doc_id, tk,
           CASE WHEN len(tk) <= 64 THEN 1
                ELSE ((len(tk) - 64 + 47) // 48) + 1 END AS nc FROM t),
         e AS (SELECT doc_id, tk, unnest(generate_series(1, nc)) AS i FROM n)
         SELECT doc_id, i - 1 AS chunk_idx,
           len(tk[(i-1)*48+1 : (i-1)*48+64]) AS chunk_tokens,
           md5(array_to_string(tk[(i-1)*48+1 : (i-1)*48+64], ' ')) AS chunk_md5
         FROM e""",
    "d26_vocab_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
         SELECT token, sum(tf)::BIGINT AS coll_freq,
           count(*)::BIGINT AS doc_freq
         FROM tf GROUP BY token
         ORDER BY coll_freq DESC, token ASC LIMIT 30""",
    "d27_bpe_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         p AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t)
         SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b,
           count(*)::BIGINT AS pair_count
         FROM p GROUP BY 1, 2
         ORDER BY pair_count DESC, tok_a ASC, tok_b ASC LIMIT 30""",
    "d25_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         sc AS (SELECT doc_id, t, tf, df,
           tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
           FROM tf JOIN dfreq USING (t) CROSS JOIN n),
         r AS (SELECT doc_id, t, tf, df,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, t ASC) AS rank
         FROM sc)
         SELECT doc_id, rank, t AS token, tf, df FROM r WHERE rank <= 5""",
    "d10_winnow_fingerprint" ->
      """WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
             ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                 string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
           END AS sh FROM documents),
         h AS (SELECT doc_id,
           list_transform(sh, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS hs
         FROM sh),
         mins AS (SELECT doc_id,
           list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
             i -> list_aggregate(hs[i:i+3], 'min')) AS m
         FROM h)
         SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(m)), ',')) AS winnow_fp
         FROM mins"""
  )
}
