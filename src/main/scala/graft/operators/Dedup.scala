package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), MinHash+LSH, SimHash,
  * n-gram Jaccard. Designed for the 100 TB shape:
  *
  *  - exact dedup shuffles 32-byte md5 keys, never raw content;
  *  - MinHash signatures are computed by exploding the distinct shingle
  *    set and min-aggregating seeded md5s — every hash runs inside
  *    whole-stage codegen and the only wide exchange is a groupBy on the
  *    doc id (higher-order-function folds are interpreted and measured
  *    ~10x slower);
  *  - LSH candidates come from an equi-join on index-salted band keys;
  *  - Jaccard runs only inside candidate blocks (a cheap blocking key or
  *    the LSH output), never all-pairs.
  */
object Dedup {

  /** Exact-duplicate groups: one row per distinct content hash with the
    * canonical (minimum) id and the copy count. */
  def exactGroups(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("copies"))

  /** Rows surviving exact dedup (the min-id representative per hash). */
  def dropExactDuplicates(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.join(exactGroups(df, contentCol, idCol)
        .select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  /** MinHash signatures over word n-gram shingles: one row per id with
    * bigint columns s0..s{k-1}. One md5 per shingle supplies two 48-bit
    * halves h1/h2; slot j minimizes h1 + j*h2 (the Kirsch-Mitzenmacher
    * construction) — k independent-enough hash families for the cost of
    * one digest, which at corpus scale is the difference between one
    * and k hashing passes. */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int, shingleSize: Int = 3): DataFrame = {
    val h1 = conv(substring(md5(col("__shingle")), 1, 12), 16, 10).cast("long")
    val h2 = conv(substring(md5(col("__shingle")), 13, 12), 16, 10).cast("long")
    val sigCols = (0 until k).map(j => min(h1 + lit(j) * h2).as(s"s$j"))
    df.select(col(idCol), col(textCol),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode(array_distinct(
          TextAnalysis.shingles("__tk", textCol, shingleSize))).as("__shingle"))
      .groupBy(idCol)
      .agg(sigCols.head, sigCols.tail: _*)
  }

  /** Index-salted LSH band keys from a signature frame: (id, band). */
  def lshBands(signatures: DataFrame, idCol: String, k: Int, bandWidth: Int): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    val bands = (0 until k / bandWidth).map { b =>
      val slots = (0 until bandWidth).map(i => col(s"s${b * bandWidth + i}"))
      md5(concat_ws(",", lit(b.toString) +: slots: _*))
    }
    signatures.select(col(idCol), explode(array(bands: _*)).as("band"))
  }

  /** Band self-join with both sides shaped for exchange reuse: identical
    * alias-only projections canonicalize to the same plan, and the
    * shuffle-hash hint keeps Catalyst from broadcasting one side (which
    * would both recompute the banding pipeline AND be the wrong plan at
    * corpus scale — the band frame is O(corpus)). AQE then computes the
    * banding shuffle once and wires a ReusedExchange for the other side
    * (pinned by QueryPlanSpec).
    */
  private def bandSelfJoin(banded: DataFrame, idCol: String,
      pairCondition: (Column, Column) => Column): DataFrame = {
    val a = banded.select(col(idCol).as("a_id"), col("band").as("a_band"))
    val b = banded.select(col(idCol).as("b_id"), col("band").as("b_band"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"),
        col("a_band") === col("b_band") && pairCondition(col("a_id"), col("b_id")))
  }

  /** Near-duplicate candidate pairs (a < b) sharing at least one band. */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 6, bandWidth: Int = 2, shingleSize: Int = 3): DataFrame = {
    val banded = lshBands(minHashSignatures(df, textCol, idCol, k, shingleSize),
      idCol, k, bandWidth)
    bandSelfJoin(banded, idCol, _ < _)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Per-document count of distinct LSH candidates — the linear-output
    * form for the degenerate everything-similar corpus. */
  def lshCandidateCounts(df: DataFrame, textCol: String, idCol: String,
      k: Int = 6, bandWidth: Int = 2, shingleSize: Int = 3): DataFrame = {
    val banded = lshBands(minHashSignatures(df, textCol, idCol, k, shingleSize),
      idCol, k, bandWidth)
    bandSelfJoin(banded, idCol, _ =!= _)
      .select(col("a_id").as("doc_id"), col("b_id"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
  }

  /** Document-LEVEL cross-corpus contamination: for every corpus doc
    * sharing at least one MinHash-LSH band with ANY benchmark doc, the
    * count of distinct matching benchmark docs. The document-similarity
    * complement of the n-gram-overlap decontamination (d20/d23): grams
    * catch verbatim passage leaks, band collisions catch whole-document
    * near-copies whose shared grams are individually unremarkable.
    *
    * Scale shape: the benchmark side is small by definition (eval sets,
    * not corpora), so its banded frame broadcasts — the corpus banding
    * pipeline stays narrow (shingle explode → codegen'd md5 slots →
    * per-doc min-agg, map-side combined) and the only corpus-keyed
    * exchange is the final per-doc count. */
  def lshContamination(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, k: Int = 6, bandWidth: Int = 2,
      shingleSize: Int = 3): DataFrame = {
    val cb = lshBands(
      minHashSignatures(corpus, textCol, idCol, k, shingleSize),
      idCol, k, bandWidth)
    val bb = lshBands(
      minHashSignatures(bench, textCol, idCol, k, shingleSize),
      idCol, k, bandWidth)
      .select(col(idCol).as("bench_id"), col("band"))
    cb.join(broadcast(bb), "band")
      .select(col(idCol), col("bench_id")).distinct()
      .groupBy(idCol).agg(count(lit(1)).as("n_bench_matches"))
  }

  /** Near-duplicate group resolution: connected components over the
    * candidate-pair graph, labeling every document with the minimum
    * doc id of its component — the keep/drop decision a corpus curation
    * run executes after LSH ("keep the representative, drop the rest").
    *
    * Iterative min-label propagation: each round combines one
    * neighbor-min step (label(x) := min over neighbors' labels) with one
    * pointer-jump step (label(x) := label(label(x))), so convergence is
    * O(log diameter) rounds rather than O(diameter) — a 1000-link chain
    * resolves in ~10 rounds. Each round is two key shuffles over the
    * label table (two bigints per doc — tiny next to the corpus), the
    * round result is `localCheckpoint`ed so the plan stays flat and the
    * per-round cost is constant, and iteration stops at the first round
    * that changes no label (`maxIter` caps pathological inputs).
    *
    * Output: one row per document that has at least one candidate pair —
    * (doc_id, group_id = min id of its component, group_size). Documents
    * with no candidates are trivially their own singleton group and are
    * not emitted.
    */
  def nearDupGroups(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIter: Int = 20): DataFrame = {
    // cache the PAIRS, not just the edge union: both symmetric branches
    // read the cached pair set, so the (expensive) candidate pipeline
    // feeding this operator runs once, not twice. A frame the CALLER
    // already persisted is used as-is (and left persisted — unpersisting
    // it here would clobber the caller's cache).
    val callerCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerCached) pairs else pairs.persist()
    // the edge table (pair-grain — the BIG side at corpus scale) is
    // repartitioned by the join key ONCE and cached with that layout:
    // the cached relation claims hashpartitioning(dst), so every
    // round's neighbor-min join re-shuffles only the LABEL side
    // (doc-grain) instead of re-exchanging the edge table per round
    // (guide §2.4 — establish the partitioning once; r22)
    val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(p.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst"))
      .persist()
    val lblType = pairs.schema(aCol).dataType
    var labels = edges.groupBy("src").agg(min("dst").as("lbl"))
      .select(col("src").as("id"), least(col("src"), col("lbl")).as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // alias every union-branch column: the right branch's lineage
      // contains `labels` itself, and a union whose children share
      // expression ids trips Catalyst's constraint rewriting. The `old`
      // column rides along (exactly one non-null per id, so min() picks
      // it) to make the convergence check a narrow scan of the round's
      // checkpoint instead of a join against the previous round.
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("lbl").as("lbl"),
          lit(null).cast(lblType).as("old"))
      val folded = labels
        .select(col("id").as("id"), col("lbl").as("lbl"), col("lbl").as("old"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("lbl").as("lbl"), min("old").as("old"))
      // one checkpointed job per round: the jump self-join's two sides
      // are identical aggregate subtrees, so AQE wires a ReusedExchange
      // for the second (shuffle-hash hints keep a broadcast from
      // replacing — and thereby recomputing — the shared subtree)
      val jumped = folded.alias("a").hint("shuffle_hash")
        .join(folded.alias("b").hint("shuffle_hash"),
          col("a.lbl") === col("b.id"), "left")
        .select(col("a.id").as("id"),
          least(col("a.lbl"), coalesce(col("b.lbl"), col("a.lbl"))).as("lbl"),
          col("a.old").as("old"))
        .localCheckpoint(true)
      converged = jumped.filter(col("lbl") =!= col("old")).isEmpty
      labels = jumped.drop("old")
      round += 1
    }
    if (!callerCached) p.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    // an unconverged result silently under-merges duplicate groups —
    // refuse it. maxIter=20 covers component diameters around a million
    // (rounds grow with log2(diameter)); hitting the cap means the pair
    // graph is pathological, which the caller must decide how to handle.
    if (!converged) throw new IllegalStateException(
      s"nearDupGroups did not converge within $maxIter rounds — " +
        "the candidate-pair graph has an extreme-diameter component; " +
        "raise maxIter or tighten the LSH banding")
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("group_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("group_id"), col("group_size"))
  }

  /** Quality-aware near-duplicate resolution: within each
    * [[nearDupGroups]] component, KEEP the member with the best
    * `scoreCol` (ties to the lowest id — a total order) and mark the
    * rest for dropping — the published "keep the longest / highest
    * quality copy" policy, where min-id retention ([[cleanCorpus]])
    * throws away whichever quality signal the pipeline already
    * computed. Output: every clustered document as
    * (id, group_id, scoreCol, keep).
    *
    * Shape: the groups frame is duplicated-docs-only; one id-keyed
    * join pulls the score (narrow two-column corpus projection), one
    * group-keyed window ranks members — group sizes are near-dup
    * cluster sizes, so the window never sees a corpus-sized
    * partition. */
  def resolveNearDupsByQuality(docs: DataFrame, groups: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy("group_id")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    groups.select(col("doc_id").as(idCol), col("group_id"))
      .join(docs.select(col(idCol), col(scoreCol)), idCol)
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("group_id"), col(scoreCol),
        (col("__rn") === 1).as("keep"))
  }

  /** Exact duplicated-SPAN measurement — the substring-level dedup
    * family (the published "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr line): find, per document, the maximal
    * runs of tokens covered by a `spanTokens`-token window whose exact
    * content occurs at least twice ANYWHERE in the corpus (including a
    * second time in the same document). d14/d23 detect shared grams;
    * this merges them back into contiguous spans — the unit a curation
    * run actually strips or thresholds on.
    *
    * The reference method is a monolithic suffix array; the Spark-first
    * re-expression is a sorted n-gram index: overlapping `spanTokens`-
    * grams with their token position, a corpus-wide occurrence count
    * per gram hash, and a per-document merge of adjacent/overlapping
    * duplicated windows (two grams at positions p1 < p2 cover a common
    * or contiguous token range iff p2 <= p1 + spanTokens). A span of L
    * duplicated tokens appears as L - spanTokens + 1 consecutive
    * duplicated windows, so the merge recovers the full span length
    * the suffix array would report, without ever materializing
    * suffixes.
    *
    * Scale shape: three corpus-keyed exchanges and corpus TEXT rides in
    * none of them — occurrence rows are (id, pos, 32-hex gram hash).
    * (1) the gram-count aggregate (map-side combined, so the exchange
    * carries one row per distinct gram per task); (2) the occurrence
    * re-key by gram hash for the count join (AQE's skew-join splitting
    * applies — a Window-based count would be one exchange fewer but
    * buffers a pathologically common gram's entire partition in one
    * task, the d13/d14 lesson is to prefer the join); (3) the per-doc
    * position window, whose hash(id) partitioning then satisfies BOTH
    * downstream groupBys (span merge, per-doc stats) with no further
    * exchange. Output: one row per merged span — (id, span_start,
    * span_end, span_tokens), token positions 0-based inclusive.
    * Documents shorter than `spanTokens` emit nothing (a whole-document
    * duplicate at that length is [[exactGroups]]'s job). */
  /** Positioned window-occurrence index: one row per `spanTokens`-token
    * window — (id, __pos 0-based token position, __gh md5 of the window
    * text). The narrow upstream both span operators share. */
  private def spanWindowOccurrences(df: DataFrame, textCol: String,
      idCol: String, spanTokens: Int): DataFrame =
    df.select(col(idCol), col(textCol),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= spanTokens)
      .select(col(idCol),
        posexplode(TextAnalysis.shingles("__tk", textCol, spanTokens)))
      .select(col(idCol), col("pos").as("__pos"), md5(col("col")).as("__gh"))

  /** Merge a (id, __pos) frame of duplicated window positions into
    * maximal covered-token spans: two windows at p1 < p2 cover a common
    * or contiguous range iff p2 <= p1 + spanTokens. One hash(id)
    * exchange (the window), which the span groupBy then reuses. */
  private def mergeSpanPositions(positions: DataFrame, idCol: String,
      spanTokens: Int): DataFrame = {
    val wOrd = Window.partitionBy(idCol).orderBy("__pos")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    positions
      .withColumn("__new",
        when(col("__pos") > lag("__pos", 1).over(wOrd) + spanTokens, 1)
          .otherwise(0))
      .withColumn("__span", sum("__new").over(wRun))
      .groupBy(col(idCol), col("__span"))
      .agg(min("__pos").as("span_start"),
        (max("__pos") + lit(spanTokens - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("__span")
  }

  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val occ = spanWindowOccurrences(df, textCol, idCol, spanTokens)
    val dupGrams = occ.groupBy("__gh").agg(count(lit(1)).as("__gc"))
      .filter(col("__gc") >= 2).select("__gh")
    mergeSpanPositions(occ.join(dupGrams, "__gh").drop("__gh"),
      idCol, spanTokens)
  }

  /** The REMOVE step of the ExactSubstr method: strip every token
    * covered by a duplicated window that is not its window-content's
    * CANONICAL occurrence, and reassemble the cleaned text — "keep one
    * copy of each duplicated substring, drop the rest".
    *
    * The canonical occurrence of a duplicated window is its minimum
    * (id, position) site, totally ordered via a zero-padded decimal
    * "id:pos" string so the min is engine-neutral (no struct-ordering
    * or integer-packing hazard; ids must be non-negative — a negative
    * id would sort before its padding). Tokens covered only by
    * canonical windows survive, so the first site of a duplicated run
    * keeps its text; a canonical window OVERLAPPED by a redundant one
    * can still lose the overlap's tokens — the guarantee is that
    * duplicated content is removed and its first site retained when
    * sites don't interleave, which is the published method's behavior
    * too, not that every canonical site survives verbatim.
    *
    * Output: only documents that lost tokens — (id, n_removed,
    * clean_text). A document that is entirely duplicated content
    * (a whole near-copy) comes back with empty clean_text; dropping
    * or keeping such husks is the caller's policy. Scale shape: the
    * same three corpus-keyed text-free exchanges as
    * [[duplicatedSpans]] plus one id-keyed join of the (small,
    * affected-docs-only) span list back onto the corpus for the
    * token filter — the only exchange that carries text, and it
    * carries it once. */
  def stripDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    // the key contract is enforced, not just documented: lpad TRUNCATES
    // anything past 20 chars, so a string id (UUIDs!) would silently
    // collide on its prefix and retain duplicated content; a negative
    // id ('-' < '0') would mis-order the canonical choice. Integral ids
    // always fit (long max = 19 digits) and negatives fail the job
    // loudly instead of corrupting it.
    locally {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val idType = df.schema(idCol).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType)(idType),
        s"stripDuplicatedSpans requires an integral id column (the " +
          s"canonical-site key zero-pads its decimal rendering; a string " +
          s"id would be silently truncated at 20 chars) — got $idType for $idCol")
    }
    val guardedId = when(col(idCol) < 0,
      raise_error(concat(lit(s"stripDuplicatedSpans: negative $idCol "),
        col(idCol).cast("string"),
        lit(" breaks canonical-site ordering")))).otherwise(col(idCol))
    val occ = spanWindowOccurrences(df, textCol, idCol, spanTokens)
      .withColumn("__k", concat(
        lpad(guardedId.cast("string"), 20, "0"), lit(":"),
        lpad(col("__pos").cast("string"), 10, "0")))
    val gramAgg = occ.groupBy("__gh")
      .agg(count(lit(1)).as("__gc"), min("__k").as("__canon"))
      .filter(col("__gc") >= 2)
    val redundant = occ.join(gramAgg, "__gh")
      .filter(col("__k") =!= col("__canon"))
      .select(col(idCol), col("__pos"))
    val spansPerDoc = mergeSpanPositions(redundant, idCol, spanTokens)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    df.join(spansPerDoc, idCol)
      .withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .withColumn("__kept", filter(col("__tk"), (t, i) =>
        !exists(col("__spans"), s =>
          i >= s.getField("span_start") && i <= s.getField("span_end"))))
      .select(col(idCol),
        (size(col("__tk")) - size(col("__kept"))).as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** Decontamination SURGERY: strip every token covered by a
    * `spanTokens`-token window that appears verbatim in the BENCHMARK
    * set, and reassemble the cleaned text — the removal counterpart of
    * [[TextAnalysis.decontaminate]] (which only flags documents).
    * Published pipelines use both policies; surgery keeps the rest of
    * an otherwise-good document instead of dropping it for one quoted
    * eval passage. No canonical-copy retention here: benchmark text
    * has no business surviving anywhere in training data.
    *
    * Scale shape: the benchmark gram index is eval-set-sized and
    * BROADCAST (the [[TextAnalysis.decontaminate]] contract); corpus
    * windows carry (id, pos, 32-hex) only; text joins back once, for
    * affected documents only. Output: affected docs only —
    * (id, n_removed, clean_text). */
  def stripContaminatedSpans(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val benchGrams = bench
      .select(col(textCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= spanTokens)
      .select(explode(array_distinct(
        TextAnalysis.shingles("__tk", textCol, spanTokens))).as("__g"))
      .select(md5(col("__g")).as("__gh")).distinct()
    val hits = spanWindowOccurrences(corpus, textCol, idCol, spanTokens)
      .join(broadcast(benchGrams), "__gh")
      .select(col(idCol), col("__pos"))
    val spansPerDoc = mergeSpanPositions(hits, idCol, spanTokens)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    corpus.join(spansPerDoc, idCol)
      .withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .withColumn("__kept", filter(col("__tk"), (t, i) =>
        !exists(col("__spans"), s =>
          i >= s.getField("span_start") && i <= s.getField("span_end"))))
      .select(col(idCol),
        (size(col("__tk")) - size(col("__kept"))).as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** C4/RefinedWeb-style corpus-wide LINE deduplication: keep one copy
    * of every line occurring at least `minCount` times across the
    * corpus (the canonical copy = minimum zero-padded "id:line-index"
    * site, [[stripDuplicatedSpans]]' engine-neutral device), strip the
    * rest, and reassemble each affected document's text. Web boilerplate
    * — nav menus, cookie banners, footers — repeats verbatim at line
    * grain, which is why the published web-corpus recipes run this pass
    * before any fuzzy dedup.
    *
    * Output: affected documents only — (id, n_removed_lines,
    * clean_text); a document whose every line is redundant comes back
    * with empty clean_text (the caller's drop-or-keep policy, as with
    * span strip). Scale shape: line hashes, never line text, in the
    * two corpus-keyed exchanges (line-hash aggregate + per-doc drop
    * list); text is joined back ONCE, for affected docs only. */
  def stripDuplicatedLines(df: DataFrame, textCol: String, idCol: String,
      minCount: Int = 2): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    locally {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val idType = df.schema(idCol).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType)(idType),
        s"stripDuplicatedLines requires an integral id column (the " +
          s"canonical-site key zero-pads its decimal rendering; a string " +
          s"id would be silently truncated at 20 chars) — got $idType for $idCol")
    }
    val guardedId = when(col(idCol) < 0,
      raise_error(concat(lit(s"stripDuplicatedLines: negative $idCol "),
        col(idCol).cast("string"),
        lit(" breaks canonical-site ordering")))).otherwise(col(idCol))
    val occ = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("pos").as("__pos"), md5(col("col")).as("__lh"))
      .withColumn("__k", concat(
        lpad(guardedId.cast("string"), 20, "0"), lit(":"),
        lpad(col("__pos").cast("string"), 10, "0")))
    val lineAgg = occ.groupBy("__lh")
      .agg(count(lit(1)).as("__c"), min("__k").as("__canon"))
      .filter(col("__c") >= minCount)
    val dropList = occ.join(lineAgg, "__lh")
      .filter(col("__k") =!= col("__canon"))
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__drop"))
    df.join(dropList, idCol)
      .withColumn("__lns", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lns"), (_, i) =>
        !array_contains(col("__drop"), i)))
      .select(col(idCol),
        (size(col("__lns")) - size(col("__kept"))).as("n_removed_lines"),
        concat_ws("\n", col("__kept")).as("clean_text"))
  }

  /** Distinct md5 line hashes of a corpus slice — the accumulating
    * index [[stripDuplicatedLinesVsIndex]] dedups against. One narrow
    * explode + a 32-byte-key distinct; nothing else shuffles. */
  def lineHashes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\n")).as("__ln"))
      .select(md5(col("__ln")).as("line_hash")).distinct()

  /** INCREMENTAL [[stripDuplicatedLines]]: strip a NEW batch's
    * duplicated lines against the lines already seen (`index`, a
    * `line_hash` frame from [[lineHashes]] accumulated over prior
    * batches) plus the batch itself. For batches arriving in
    * ascending-id order this equals the one-shot pass over the union
    * corpus EXACTLY: a kept occurrence is precisely the globally-first
    * occurrence of its line (never stripped by the one-shot) or a
    * line seen exactly once globally (under the one-shot's threshold
    * of 2 there is nothing to strip). minCount is FIXED at 2 — the
    * C4 convention, and the only prefix-decidable threshold: at 3+,
    * whether the first occurrence survives depends on batches that
    * have not arrived yet.
    *
    * Scale shape: the index join is an equi-join on 32-byte line
    * hashes — at production scale persist the index bucketed on
    * line_hash (the [[buildBandIndex]] device) so the probe side
    * co-locates; text rides only the final reassembly join, exactly
    * like the one-shot. Output: the AFFECTED batch docs
    * (n_removed_lines, clean_text), same contract as
    * [[stripDuplicatedLines]]. */
  def stripDuplicatedLinesVsIndex(df: DataFrame, textCol: String,
      idCol: String, index: DataFrame): DataFrame = {
    locally {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val idType = df.schema(idCol).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType)(idType),
        s"stripDuplicatedLinesVsIndex requires an integral id column — " +
          s"got $idType for $idCol")
      require(index.columns.contains("line_hash"),
        "index must be a lineHashes frame (line_hash column)")
    }
    val guardedId = when(col(idCol) < 0,
      raise_error(concat(lit(s"stripDuplicatedLinesVsIndex: negative $idCol "),
        col(idCol).cast("string"),
        lit(" breaks canonical-site ordering")))).otherwise(col(idCol))
    val occ = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("pos").as("__pos"), md5(col("col")).as("__lh"))
      .withColumn("__k", concat(
        lpad(guardedId.cast("string"), 20, "0"), lit(":"),
        lpad(col("__pos").cast("string"), 10, "0")))
    val seen = index.select(col("line_hash").as("__lh")).distinct()
      .withColumn("__seen", lit(1))
    val batchAgg = occ.groupBy("__lh")
      .agg(count(lit(1)).as("__c"), min("__k").as("__canon"))
    // drop an occurrence when its line was seen in ANY prior batch
    // (the index holds the kept canonical), or when it repeats within
    // this batch and is not the batch-canonical site
    val dropList = occ
      .join(seen, Seq("__lh"), "left")
      .join(batchAgg, "__lh")
      .filter(col("__seen").isNotNull ||
        (col("__c") >= 2 && col("__k") =!= col("__canon")))
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__drop"))
    df.join(dropList, idCol)
      .withColumn("__lns", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lns"), (_, i) =>
        !array_contains(col("__drop"), i)))
      .select(col(idCol),
        (size(col("__lns")) - size(col("__kept"))).as("n_removed_lines"),
        concat_ws("\n", col("__kept")).as("clean_text"))
  }

  /** Per-document duplicated-span statistics over [[duplicatedSpans]]:
    * span count, total duplicated tokens, and the longest duplicated
    * span — the numbers a curation run thresholds on ("drop documents
    * whose longest duplicated span exceeds N tokens"). Only documents
    * with at least one duplicated span are emitted. Inherits the span
    * frame's hash(id) partitioning, so the rollup adds no exchange. */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8): DataFrame =
    duplicatedSpans(df, textCol, idCol, spanTokens)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("span_tokens").as("dup_span_tokens"),
        max("span_tokens").as("longest_dup_span"))

  /** SimHash (nBits <= 24): per bit, majority vote of token-hash bits
    * over the distinct token set. */
  def simHash(df: DataFrame, textCol: String, idCol: String, nBits: Int = 16): DataFrame = {
    val hexDigits = (nBits + 3) / 4
    val hashes = transform(TextAnalysis.tokenSet(col(textCol)),
      t => conv(substring(md5(t), 1, hexDigits), 16, 10).cast("int"))
    val n = size(col("__th"))
    val bits = (0 until nBits).map { b =>
      val ones = size(filter(col("__th"), h => shiftright(h, b).bitwiseAND(1) === 1))
      when(ones * 2 > n, 1 << b).otherwise(0)
    }
    df.select(col(idCol), hashes.as("__th"))
      .select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  // ---- Persisted MinHash band index: incremental new-batch-vs-corpus
  // dedup, the production ingest shape. No published pipeline re-mines
  // 100 TB per daily batch: the corpus's LSH bands persist ONCE as a
  // band-bucketed catalog table, and each new batch is banded, probed
  // against the EXISTING index for near-dup/contamination verdicts, and
  // appended idempotently. The table's build / append / tombstone /
  // compact lifecycle is [[BucketedStore]]'s.

  /** Persist `df`'s MinHash-LSH band frame (id, band) as a catalog
    * table bucketed by band — probes become scans of the batch's band
    * buckets with no shuffle on the index side, at any corpus size. */
  def buildBandIndex(df: DataFrame, textCol: String, idCol: String,
      table: String, k: Int = 6, bandWidth: Int = 2, shingleSize: Int = 3,
      buckets: Int = 32): Unit =
    BucketedStore.rebuild(
      lshBands(minHashSignatures(df, textCol, idCol, k, shingleSize),
        idCol, k, bandWidth),
      table, "band", buckets)

  /** Near-dup verdicts for a NEW batch against a persisted
    * [[buildBandIndex]] table: distinct (`idCol`, index_id) pairs
    * sharing at least one band, self-pairs excluded (a replayed doc
    * already in the index is not its own near-dup).
    *
    * Scale shape: the batch's bands become planning-time literals
    * (bounded by `maxBatchBands`, loud fail past it — micro-batches
    * are small by contract), so the index scan BUCKET-PRUNES to the
    * batch's band buckets with the band filter pushed to parquet; the
    * batch side broadcasts into the join. The index is never shuffled
    * and never scanned beyond the probed buckets, in at most one task
    * per core: the plan is pinned to prune (the catalog bucketSpec is
    * validated up front, so even an empty batch refuses a mis-built
    * table), its verdict rows are collected once under
    * `maxBatchBands` — past it the probe refuses, directing the caller
    * to split the batch — and come back as a local frame
    * ([[BucketedStore.collectPinned]]): the returned frame and anything
    * derived from it re-plan from those rows, never from the index. */
  def probeBandIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, textCol: String, idCol: String, k: Int = 6,
      bandWidth: Int = 2, shingleSize: Int = 3,
      maxBatchBands: Int = 1 << 20): DataFrame =
      DriverBounded.labeled(spark, s"probeBandIndex:$table") {
    val layout = BucketedStore.open(spark, table, "probeBandIndex",
      Some("band"))
    val (bandedDf, bandRows) = freshBatchBands(batch, textCol, idCol, k,
      bandWidth, shingleSize, maxBatchBands, "probeBandIndex")
    try probeBanded(spark, table, layout, bandedDf,
      bandRows.map(_.get(1)).distinct.toSeq, idCol, maxBatchBands)
    finally { bandedDf.unpersist(blocking = false); () }
  }

  /** [[probeBandIndex]]'s core over an ALREADY-banded (persisted)
    * batch frame and its collected band literals — shared with
    * [[resolveAtIngest]], which bands its delivery once and reuses
    * the rows for the winner append. Returns the (idCol, index_id)
    * verdicts as a local frame; an empty band set probes nothing. */
  private def probeBanded(spark: org.apache.spark.sql.SparkSession,
      table: String, layout: BucketedStore.Layout, bandedDf: DataFrame,
      bands: Seq[Any], idCol: String, maxBatchBands: Int): DataFrame = {
    // tombstoned docs (superseded by resolve-at-ingest, or taken
    // down via deleteFromIndex) are dead to probes IMMEDIATELY —
    // excluded above the pruned scan; compactBandIndex reclaims them
    val pruned = BucketedStore.liveRows(spark, table,
      BucketedStore.coalesceToCores(
        spark.table(table).filter(col("band").isin(bands: _*)), layout)
        .select(col(idCol).as("index_id"), col("band")),
      "index_id")
    val out = pruned
      .join(broadcast(bandedDf.select(col(idCol), col("band"))),
        Seq("band"))
      .filter(col("index_id") =!= col(idCol))
      .select(col(idCol), col("index_id"))
      .distinct()
    BucketedStore.collectPinned(spark, out, table, "probeBandIndex",
      if (bands.isEmpty) 0 else maxBatchBands,
      s"more than $maxBatchBands verdict pairs; split the batch")
  }

  /** Idempotently append a new batch's bands to a [[buildBandIndex]]
    * table at doc-id grain ([[BucketedStore.append]]): a replayed batch
    * finds its own (deterministically identical) bands in the probed
    * buckets and appends nothing. A tombstoned doc id cannot re-enter
    * until compacted — its OLD bands are still physically present, so
    * the anti-join would absorb the same-band rows and the next compact
    * would strip BOTH generations. */
  def appendToBandIndex(batch: DataFrame, table: String, textCol: String,
      idCol: String, k: Int = 6, bandWidth: Int = 2, shingleSize: Int = 3,
      maxBatchBands: Int = 1 << 20): Unit = {
    val spark = batch.sparkSession
    DriverBounded.labeled(spark, s"appendToBandIndex:$table") {
      val layout = BucketedStore.open(spark, table, "appendToBandIndex",
        Some("band"))
      val (bandedDf, bandRows) = freshBatchBands(batch, textCol, idCol, k,
        bandWidth, shingleSize, maxBatchBands, "appendToBandIndex")
      try BucketedStore.append(spark, table, layout, Seq(idCol), bandedDf,
        bandRows.toSeq, "appendToBandIndex")
      finally { bandedDf.unpersist(blocking = false); () }
    }
  }

  /** Shared probe and append scaffolding: the batch banded once per
    * distinct id, persisted (the collected literals must be the exact
    * rows the joins later see; the caller unpersists), and its
    * (id, band) rows collected under the `maxBatchBands` bound — the
    * store append's key rows, from which the probes derive their
    * id/band literal sets (resolve-at-ingest additionally filters them
    * to the delivery's winners, driver-side). */
  private def freshBatchBands(batch: DataFrame, textCol: String,
      idCol: String, k: Int, bandWidth: Int, shingleSize: Int,
      maxBatchBands: Int, context: String)
      : (DataFrame, Array[org.apache.spark.sql.Row]) = {
    val banded = lshBands(minHashSignatures(batch.dropDuplicates(
      Seq(idCol)), textCol, idCol, k, shingleSize), idCol, k, bandWidth)
      .persist()
    (banded, DriverBounded.collectCapped(banded, maxBatchBands,
      s"$context: micro-batch exceeds maxBatchBands $maxBatchBands (the " +
        "batch's bands become planning-time point-lookup literals); " +
        "split the batch or raise the bound deliberately"))
  }

  /** Compact a [[buildBandIndex]] table back to one file per bucket,
    * applying its pending tombstones ([[BucketedStore.compact]]):
    * verdict-neutral apart from exactly those, idempotent. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    BucketedStore.compact(spark, table, "compactBandIndex", Some("band"))

  /** [[compactBandIndex]] for a [[buildKeyedTable]] side table:
    * row-neutral (appends are anti-joined, so there is nothing to
    * delete). Run it on the fingerprint/score/sink tables the streamed
    * flows maintain, on the band index's schedule. */
  def compactKeyedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, keyCol: String): Unit =
    BucketedStore.compact(spark, table, "compactKeyedTable", Some(keyCol))

  /** Incremental near-dup RESOLUTION at ingest — the [[probeBandIndex]]
    * + [[resolveNearDupsByQuality]] composition the one-shot d42 pass
    * cannot express: a NEW batch doc that near-dups index docs is
    * kept, dropped, or made to REPLACE them by score, at delivery
    * time, without re-mining the corpus.
    *
    * Policy (the d42 total order): a batch doc WINS iff it beats every
    * live index-side candidate under (`scoreCol` desc, id asc).
    * Winners are ingested (the [[appendToBandIndex]] append,
    * idempotent) and their candidates become TOMBSTONES (physically
    * removed at the next [[compactBandIndex]]); losers are dropped and
    * never enter the index. Tombstoned docs are dead to every later
    * delivery — their verdict rows are filtered before resolution — so
    * a better-scored late arrival genuinely supersedes its index-side
    * near-dup.
    *
    * `indexScores` must cover every index doc id (`idCol`,
    * `scoreCol`) — it is scanned ONCE, semi-joined by the broadcast
    * batch-proportional verdict pairs, so the corpus-sized side
    * shuffles nothing; a candidate id MISSING from `indexScores`
    * fails loudly (an uncovered candidate would otherwise vanish
    * from the pair set, handing the batch doc a vacuous win with the
    * candidate never tombstoned — a silent contract breach). Scope:
    * resolution is batch-vs-INDEX only — near-dup pairs WITHIN one
    * batch are not resolved (both copies append); pre-resolve the
    * batch with the one-shot d42 pass ([[resolveNearDupsByQuality]])
    * when within-batch duplicates are possible, or deliver at a grain
    * that precludes them. The batch side is micro-batch grain by the
    * probe's contract and broadcasts everywhere. The pair frame is
    * eagerly checkpointed before any table mutation (the w05
    * discipline: everything returned or written derives from
    * checkpointed batch-proportional rows, not from the tables the
    * appends extend). The whole flow is replay-idempotent: a replayed
    * winner finds its candidates tombstoned and itself appended (both
    * appends anti-joined), a replayed loser loses again.
    *
    * The tombstone side table is TOMBSTONE-grain and read a few times
    * per delivery (the probe's exclusion, the tombstone append, the
    * winner's re-entry guard); the next [[compactBandIndex]] truncates
    * it, so the compaction CADENCE bounds those reads. Because
    * tombstones broadcast into every probe, the pending set is also
    * configuration-bounded (`maxPendingTombstones`, checked before the
    * write): a delivery that would exceed it fails loudly with
    * direction (run [[compactBandIndex]]) and leaves the tombstones
    * and the index unchanged.
    *
    * Returns one row per batch doc:
    * (idCol, n_candidates, kept, n_superseded). */
  def ingestResolveNearDups(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, textCol: String, idCol: String,
      scoreCol: String, indexScores: DataFrame, k: Int = 6,
      bandWidth: Int = 2, shingleSize: Int = 3,
      maxBatchBands: Int = 1 << 20,
      maxPendingTombstones: Int = 1 << 20): DataFrame =
    resolveAtIngest(spark, table, batch, textCol, idCol, scoreCol,
      // one corpus-score scan, broadcast-semi-joined by the verdict
      // pairs — the corpus-sized side shuffles nothing, but IS read
      // once per call; fine one-shot, per-delivery use wants
      // [[ingestResolveNearDupsIndexed]]. The corpus side must stream
      // (broadcast build = the batch pairs), so coverage cannot ride
      // the join as a left-outer guard — the core runs its separate
      // uncovered probe for this form.
      (_, withBatch) => indexScores
        .select(col(idCol).as("index_id"), col(scoreCol).as("__is"))
        .join(broadcast(withBatch), Seq("index_id")),
      coverageGuarded = false,
      _ => (), "the indexScores frame argument",
      k, bandWidth, shingleSize, maxBatchBands, maxPendingTombstones)

  /** [[ingestResolveNearDups]] with the score side PERSISTED — the
    * per-delivery shape: candidate scores come from bucket-pruned
    * point lookups of a `scoreTable` built by [[buildKeyedTable]]
    * (`idCol` key, `scoreCol` payload), and each delivery's winners
    * are appended to it idempotently ([[appendToKeyedTable]]), so the
    * table stays complete as the index grows and NO corpus-sized frame
    * is read at delivery time — cost is O(batch) per micro-batch at
    * any corpus size, where the frame-argument form re-scans its
    * corpus-sized `indexScores` once per call. Same policy, same
    * returned frame, same replay-idempotence (a replayed winner's
    * score append is absorbed by the key-grain anti-join). */
  def ingestResolveNearDupsIndexed(
      spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, textCol: String, idCol: String,
      scoreCol: String, scoreTable: String, k: Int = 6,
      bandWidth: Int = 2, shingleSize: Int = 3,
      maxBatchBands: Int = 1 << 20,
      maxPendingTombstones: Int = 1 << 20): DataFrame =
    resolveAtIngest(spark, table, batch, textCol, idCol, scoreCol,
      (verdicts, withBatch) => {
        // probe by the VERDICT rows' candidate ids (same key set as
        // withBatch — every verdict id is a batch id — without paying
        // the batch broadcast inside the probe's own collect), then a
        // batch-grain LEFT join whose __is projection carries the
        // coverage guard in-row: an uncovered candidate fails the
        // pairs checkpoint itself, not a separate probe job
        val scored = probeKeyedTable(spark, scoreTable,
          verdicts.select(col("index_id").as(idCol)), idCol)
        withBatch.join(
          broadcast(scored.select(col(idCol).as("index_id"),
            col(scoreCol).as("__is"))),
          Seq("index_id"), "left")
          .withColumn("__is", when(col("__is").isNull,
            raise_error(concat(
              lit("ingestResolveNearDups: index doc id "),
              col("index_id").cast("string"),
              lit(s" has no row in the persisted score table " +
                s"$scoreTable — " + CoverageGuardWhy))))
            .otherwise(col("__is")))
      },
      coverageGuarded = true,
      winners => appendToKeyedTable(
        winners.select(col(idCol), col(scoreCol)), scoreTable, idCol),
      s"the persisted score table $scoreTable",
      k, bandWidth, shingleSize, maxBatchBands, maxPendingTombstones)

  /** Why score coverage is a hard contract — shared by the in-row
    * guard (indexed form) and the separate probe (frame form). */
  private val CoverageGuardWhy =
    "scores must cover every index doc; an uncovered candidate " +
      "would be silently dropped from resolution (vacuous batch win, " +
      "candidate never tombstoned)"

  /** The shared resolve-at-ingest core: `attachScores` turns the
    * probe's verdicts (a local frame of driver-held rows) + the
    * (idCol, index_id, __bs) verdict×batch frame into pairs carrying
    * `__is` (the candidate's score) — batch-proportional in,
    * batch-proportional out; `coverageGuarded` says
    * whether the caller's join carries the in-row coverage guard (the
    * indexed form) or the core must run its separate uncovered probe
    * (the frame form, whose corpus-sized score scan cannot take a
    * batch-preserving outer join); `onWinners` runs after the winner
    * append for score-side maintenance. `scoreSource` names the
    * caller's score side in the coverage-guard failure, so incident
    * triage reads which side actually lacked the candidate's score.
    *
    * Per-delivery job shape (measured r22, guide §1.2): the batch is
    * banded ONCE and its rows feed both the probe and the winner
    * append (the winners' band literals are a driver-side subset of
    * the banding collect), the winner ids come from one bounded
    * collect over the checkpointed resolution rows, and the coverage
    * guard rides the pairs checkpoint. */
  private[operators] def resolveAtIngest(
      spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, textCol: String, idCol: String,
      scoreCol: String,
      attachScores: (DataFrame, DataFrame) => DataFrame,
      coverageGuarded: Boolean,
      onWinners: DataFrame => Unit, scoreSource: String, k: Int,
      bandWidth: Int, shingleSize: Int,
      maxBatchBands: Int, maxPendingTombstones: Int): DataFrame =
      DriverBounded.labeled(spark, s"resolveAtIngest:$table") {
    val layout = BucketedStore.open(spark, table, "resolveAtIngest",
      Some("band"))
    BucketedStore.ensureTombstones(spark, table, idCol)
    val (bandedDf, bandRows) = freshBatchBands(batch, textCol, idCol, k,
      bandWidth, shingleSize, maxBatchBands, "resolveAtIngest")
    try {
      val bands = bandRows.map(_.get(1)).distinct.toSeq
      // tombstone exclusion lives INSIDE the probe (one read per
      // delivery, shared with ad-hoc probes) — verdicts arrive already
      // filtered to live index docs
      val verdicts = probeBanded(spark, table, layout, bandedDf, bands,
        idCol, maxBatchBands)
      // the per-pair frame checkpoints batch-proportional rows so
      // resolution, tombstoning, and the winner append all replan from
      // them (never from the score side, never from the mutating
      // tables); an in-row coverage guard (indexed form) surfaces
      // through this checkpoint and is rethrown as the operator's own
      // loud contract failure
      val withBatch = verdicts.join(
        broadcast(batch.select(col(idCol), col(scoreCol).as("__bs"))),
        Seq(idCol))
      val pairs = materializeWithCoverageGuard(
        attachScores(verdicts, withBatch)
          .select(col(idCol), col("index_id"), col("__bs"), col("__is")))
      if (!coverageGuarded) {
        // frame form: every candidate id the probe surfaced must have
        // come back with a score — the inner join silently DROPS an
        // uncovered candidate. Both frames are checkpointed batch-
        // proportional rows; limit(1) keeps the probe driver-cheap.
        val uncovered = verdicts.select(col("index_id"))
          .join(pairs.select(col("index_id")), Seq("index_id"),
            "left_anti")
          .limit(1).collect()
        require(uncovered.isEmpty,
          s"ingestResolveNearDups: index doc id ${uncovered.headOption
              .map(_.get(0)).getOrElse("")} has no row in " +
            s"$scoreSource — " + CoverageGuardWhy)
      }
      val beats = col("__bs") > col("__is") ||
        (col("__bs") === col("__is") && col(idCol) < col("index_id"))
      val byDoc = pairs.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n"),
          (min(when(beats, 1).otherwise(0)) === 1).as("__wins"))
      val resolvedPlan = batch.select(col(idCol))
        .join(broadcast(byDoc), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__n"), lit(0L)).as("n_candidates"),
          coalesce(col("__wins"), lit(true)).as("kept"),
          when(coalesce(col("__wins"), lit(true)),
            coalesce(col("__n"), lit(0L))).otherwise(lit(0L))
            .as("n_superseded"))
      // the resolution is batch-grain — one row per batch doc, bounded
      // by the banding collect's own cap — so it comes back as ONE
      // bounded collect and re-enters as a LocalRelation: the returned
      // frame, the winner semi-joins, and the tombstone-skip decision
      // all read the same driver rows
      val resolvedRows = DriverBounded.collectCapped(resolvedPlan,
        maxBatchBands,
        "resolveAtIngest: resolution rows exceed maxBatchBands")
      val resolved = spark.createDataFrame(
        java.util.Arrays.asList(resolvedRows: _*), resolvedPlan.schema)
      // tombstones: the superseded index docs, skipped entirely when no
      // winner had a candidate (nothing can be superseded); the cap is
      // enforced before the write, so an over-cap delivery changes
      // neither the tombstones nor the index
      if (resolvedRows.exists(r => r.getBoolean(2) && r.getLong(1) > 0))
        BucketedStore.addTombstones(spark, table,
          pairs.join(broadcast(byDoc.filter(col("__wins"))
              .select(col(idCol))), Seq(idCol), "left_semi")
            .select(col("index_id").as(idCol)),
          idCol, maxPendingTombstones, "maxPendingTombstones",
          "ingestResolveNearDups")
      val winnerIds =
        resolvedRows.filter(_.getBoolean(2)).map(_.get(0)).toSet
      if (winnerIds.nonEmpty) {
        // the winners' bands are the SAME persisted banding the probe
        // used (deterministic pipeline, so a replayed winner finds its
        // identical bands and appends nothing); a winner superseded
        // THIS delivery (a batch doc whose id is also an index doc
        // another winner beat) trips the store's re-entry guard. The
        // winners select rows by a broadcast semi-join against the
        // local resolution rows, never by a list of id literals
        val winners =
          broadcast(resolved.filter(col("kept")).select(col(idCol)))
        BucketedStore.append(spark, table, layout, Seq(idCol),
          bandedDf.join(winners, Seq(idCol), "left_semi"),
          bandRows.filter(r => winnerIds.contains(r.get(0))).toSeq,
          "appendToBandIndex")
        onWinners(batch.join(winners, Seq(idCol), "left_semi"))
      }
      resolved
    } finally { bandedDf.unpersist(blocking = false); () }
  }

  /** Materialize the pairs frame, surfacing an in-row coverage-guard
    * raise_error (which arrives wrapped in the job failure) as the
    * operator's own IllegalArgumentException with the directed
    * message — the failure ergonomics of the old separate probe, at
    * zero extra jobs. */
  private def materializeWithCoverageGuard(df: DataFrame): DataFrame =
    try df.localCheckpoint(true) catch {
      case e: Throwable =>
        val directed = Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).take(20)
          .map(t => String.valueOf(t.getMessage))
          .find(_.contains("ingestResolveNearDups: index doc id"))
        directed match {
          case Some(m) =>
            val msg = m.substring(
              m.indexOf("ingestResolveNearDups: index doc id"))
            throw new IllegalArgumentException(msg, e)
          case None => throw e
        }
    }


  // ---- Key-bucketed side tables: the band-index device generalized
  // to POINT lookups. A streamed ingest flow must answer corpus-grain
  // questions ("is this fingerprint already in the corpus?", "what is
  // index doc X's score?") once per micro-batch; scanning a
  // corpus-sized frame per delivery makes delivery cost proportional
  // to the CORPUS, not the batch. Persisting the lookup side as a
  // catalog table bucketed by the probe key makes every per-batch
  // lookup a bucket-pruned point probe — delivery cost is O(batch) at
  // any corpus size. The lifecycle is [[BucketedStore]]'s; compact
  // with [[compactKeyedTable]].

  /** Persist `df` as a catalog table bucketed by `keyCol`, one
    * task-aligned file per bucket. `df` must be key-distinct (one row
    * per key — the table is a key-indexed map, and [[probeKeyedTable]]
    * callers join its payload back at key grain); violations fail
    * loudly rather than persisting an ambiguous map.
    *
    * Size `buckets` for the CORPUS, not the batch: the literal probe
    * form prunes to the batch's buckets regardless, but the join form
    * (a backfill-sized probe or append) inherits its parallelism from
    * the table's bucket count — the key frame repartitions to exactly
    * `buckets` partitions, so a 32-bucket table caps a billion-key
    * backfill at 32 join tasks. At 100 TB build with thousands of
    * buckets; the default 32 is the local-mode test shape. */
  def buildKeyedTable(df: DataFrame, keyCol: String, table: String,
      buckets: Int = 32): Unit = {
    // repartition FIRST: the duplicate-key window's required clustering
    // is then already satisfied (hashpartitioning on keyCol), so the
    // guard rides the write's own task-alignment exchange — one
    // shuffle total, and the window preserves the alignment the
    // bucketed write needs (one file per bucket).
    val keyed = df.repartition(buckets, col(keyCol))
      .withColumn("__dup",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))))
    // the guard rides the KEY column itself (a dropped guard column
    // would be pruned away, silently skipping the check); the
    // otherwise branch preserves the value, so alignment holds. A
    // NULL key is rejected with the duplicates: isin(literals) never
    // matches null, so a null-keyed row could neither be probed nor
    // absorb its own replay — it would be dead weight that re-appends
    // forever.
    val guarded = keyed.columns.filter(_ != "__dup").map { c =>
      if (c == keyCol)
        when(col(keyCol).isNull, raise_error(lit(
            s"buildKeyedTable: null key in $keyCol — a null-keyed row " +
              "can never be probed (isin never matches null); filter " +
              "or key-derive upstream")))
          .when(col("__dup") > 1, raise_error(concat(
            lit(s"buildKeyedTable: duplicate key in $keyCol: "),
            col(keyCol).cast("string"),
            lit(" — the table is a key-indexed map; dedupe upstream"))))
          .otherwise(col(c)).as(c)
      else col(c)
    }
    BucketedStore.rebuild(keyed.select(guarded.toIndexedSeq: _*), table,
      keyCol, buckets, aligned = true)
  }

  /** Idempotently append `batch` to a [[buildKeyedTable]] table at key
    * grain: at-least-once delivery, exactly-once table effect, FIRST
    * writer wins per key (a replayed batch — or a later batch carrying
    * an already-indexed key — appends nothing for it). `batch` must be
    * key-distinct and null-free on `keyCol` (loud fail otherwise: two
    * payloads for one key in a single delivery has no deterministic
    * winner, and a null key can never match the idempotence check so
    * it would re-append on every redelivery).
    *
    * The idempotence check mirrors [[probeKeyedTable]]'s two forms:
    * at micro-batch sizes (≤ `joinFormThreshold` distinct keys) it is
    * the store's bucket-pruned point lookups ([[BucketedStore.append]]
    * — the batch's keys as literals, so `joinFormThreshold` bounds both
    * the driver collect and the plan's literal count), and above
    * the threshold (a backfill-sized delivery) it switches to the
    * bucket-aligned join form with every validation pushed to the
    * cluster: no driver hop, no literal plan, zero table-side
    * exchange, and the same first-writer-wins effect. */
  def appendToKeyedTable(batch: DataFrame, table: String, keyCol: String,
      joinFormThreshold: Int = 1 << 16): Unit = {
    val spark = batch.sparkSession
    DriverBounded.labeled(spark, s"appendToKeyedTable:$table") {
    val layout = BucketedStore.open(spark, table, "appendToKeyedTable",
      Some(keyCol))
    val b = batch.persist()
    try {
      // form decision, driver-bounded by construction (the literal
      // path re-uses these rows as its key list)
      val headRows = b.select(col(keyCol))
        .limit(joinFormThreshold + 1).collect()
      if (headRows.length > joinFormThreshold) {
        // JOIN FORM: validations run distributed (limit(1) failure
        // probes — driver-cheap), the existence check is the probe's
        // bucket-aligned join, and nothing batch-sized ever lands on
        // the driver
        val nullKey = b.filter(col(keyCol).isNull).limit(1).collect()
        require(nullKey.isEmpty,
          s"appendToKeyedTable: null $keyCol key in the batch — the " +
            "idempotence anti-join never matches null, so a " +
            "null-keyed row would re-append on every redelivery; " +
            "filter or key-derive upstream")
        val dup = b.groupBy(col(keyCol))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"appendToKeyedTable: batch has duplicate $keyCol keys " +
            s"(e.g. ${dup.headOption.map(_.get(0)).getOrElse("")}) — " +
            DuplicateKeyWhy)
        val existing = probeKeyedTableViaJoin(spark, table,
          b.select(col(keyCol)).distinct(), keyCol, layout.buckets)
        BucketedStore.appendRows(spark, table, layout,
          b.join(existing.select(col(keyCol)), Seq(keyCol), "left_anti"))
      } else {
        val keys = headRows.map(_.get(0))
        require(keys.distinct.length == keys.length,
          s"appendToKeyedTable: batch has duplicate $keyCol keys — " +
            DuplicateKeyWhy)
        BucketedStore.append(spark, table, layout, Seq(keyCol),
          b, headRows.toSeq, "appendToKeyedTable")
      }
    } finally { b.unpersist(blocking = false); () }
    }
  }

  private val DuplicateKeyWhy =
    "the table is a key-indexed map and a within-batch duplicate has " +
      "no deterministic winner; dedupe the batch upstream"

  /** [[appendToKeyedTable]] for a batch whose key set was ALREADY
    * probed this delivery: `probed` must be the [[probeKeyedTable]]
    * result for a key set COVERING the batch's keys (same table, same
    * delivery — the per-batch probe the streamed flows run anyway),
    * and the batch must be key-distinct and null-free BY CONSTRUCTION
    * (a [[lineHashes]]/distinct product). The append then skips its
    * own idempotence probe — the anti-join derives from `probed`'s
    * materialized batch-proportional rows — and the guard collects,
    * so a delivery pays ONE table write and nothing else (guide §1.2:
    * the probe+append pair was reading the same buckets twice per
    * micro-batch).
    *
    * CONTRACT (loud in the scaladoc because the table's idempotence
    * depends on it): a key present in the table but MISSING from
    * `probed` would re-append — exactly-once table effect holds only
    * when `probed` came from probing a superset of this batch's keys
    * against this table, after which no other writer touched it (the
    * single-writer ingest contract). */
  def appendProbedToKeyedTable(batch: DataFrame, table: String,
      keyCol: String, probed: DataFrame): Unit = {
    val spark = batch.sparkSession
    DriverBounded.labeled(spark, s"appendProbedToKeyedTable:$table") {
      val layout = BucketedStore.open(spark, table,
        "appendProbedToKeyedTable", Some(keyCol))
      BucketedStore.appendRows(spark, table, layout,
        batch.join(probed.select(col(keyCol)), Seq(keyCol), "left_anti"))
    }
  }

  /** Bucket-pruned point lookups against a [[buildKeyedTable]] table:
    * returns the table rows whose `keyCol` appears in `keys` (any
    * frame carrying that column; other columns ignored), materialized
    * so downstream plans derive from batch-proportional rows, never
    * from the table.
    *
    * Two plan forms, chosen by the probe's distinct key count:
    *
    *  - '''Literal form''' (≤ `joinFormThreshold` keys — the
    *    micro-batch norm): the keys become planning-time literals,
    *    the scan is pinned to bucket-prune — a mis-built table refuses
    *    loudly instead of full-scanning at corpus size — runs in at
    *    most one task per core, and its rows (at most one per probed
    *    key: the table is key-distinct) are collected once and
    *    returned as a local frame ([[BucketedStore.collectPinned]]).
    *    `joinFormThreshold` is this form's bound: it caps the driver
    *    materialization and the plan's literal count.
    *  - '''Join form''' (above the threshold): a million-literal
    *    `isin` would bloat planning time and driver memory, so the
    *    probe switches to a bucket-ALIGNED join — the key frame
    *    repartitions to the TABLE's own (bucket-count, key) layout,
    *    the forced bucketed scan claims that exact partitioning, and
    *    the table side joins with ZERO exchange (asserted on the
    *    executed plan: no shuffle above the table's scan). No file
    *    pruning — the trade is one full bucketed read with no
    *    corpus-side shuffle versus an unboundedly large plan — and no
    *    driver hop at all: the keys never leave the cluster, and the
    *    result is an executor-local checkpoint.
    *
    * Both forms return identical rows (spec-pinned at the threshold
    * boundary). An empty key set probes nothing and returns an empty
    * frame with the table's schema. */
  def probeKeyedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, keys: DataFrame, keyCol: String,
      joinFormThreshold: Int = 1 << 16): DataFrame =
      DriverBounded.labeled(spark, s"probeKeyedTable:$table") {
    val layout = BucketedStore.open(spark, table, "probeKeyedTable",
      Some(keyCol))
    val distinctKeys = keys.select(col(keyCol)).distinct()
    // form decision, driver-bounded by construction: fetch at most
    // threshold+1 rows — never the whole key set
    val headRows = distinctKeys.limit(joinFormThreshold + 1).collect()
    if (headRows.length > joinFormThreshold)
      probeKeyedTableViaJoin(spark, table, distinctKeys, keyCol,
        layout.buckets)
    else {
      val lits = headRows.map(_.get(0)).toSeq
      require(!lits.contains(null),
        s"probeKeyedTable: null $keyCol in the probe key set — " +
          "isin(literals) never matches null, so a null probe would " +
          "silently come back absent; filter nulls (or treat them as " +
          "known-absent) at the caller, explicitly")
      BucketedStore.collectPinned(spark,
        BucketedStore.coalesceToCores(
          spark.table(table).filter(col(keyCol).isin(lits: _*)), layout),
        table, "probeKeyedTable", lits.size,
        s"more rows than probed keys — $table is not key-distinct")
    }
  }

  /** The join form of [[probeKeyedTable]]: table left-semi-joined by
    * the key frame repartitioned to the table's own bucketing. The
    * bucketed scan is forced (the store's conf window) so it claims
    * HashPartitioning(keyCol, buckets) and the join needs no
    * table-side exchange; the executed plan is asserted to have NO
    * shuffle above the table's scan — cost is one bucketed read of the
    * table plus one batch-side shuffle, at any key count. */
  private def probeKeyedTableViaJoin(
      spark: org.apache.spark.sql.SparkSession, table: String,
      distinctKeys: DataFrame, keyCol: String, buckets: Int): DataFrame = {
    val nullProbe = distinctKeys.filter(col(keyCol).isNull)
      .limit(1).collect()
    require(nullProbe.isEmpty,
      s"probeKeyedTable: null $keyCol in the probe key set — an " +
        "equi-join never matches null, so a null probe would silently " +
        "come back absent; filter nulls (or treat them as " +
        "known-absent) at the caller, explicitly")
    val joined = spark.table(table).join(
      distinctKeys.repartition(buckets, col(keyCol)).hint("shuffle_hash"),
      Seq(keyCol), "left_semi")
    // compile inside the window only — executedPlan is a cached lazy
    // val, so the checkpoint below (outside the lock) merely executes
    // the already-compiled plan
    BucketedStore.withAutoBucketedScanOff(spark) {
      joined.queryExecution.executedPlan; ()
    }
    val out = joined.localCheckpoint(true)
    // assert on the FINAL (post-AQE) plan: no shuffle may sit above
    // the table's scan — if the forced bucketed scan was dropped at
    // stage preparation, the table side would re-shuffle at corpus
    // size, exactly the cost this form exists to avoid
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val nodes = graft.plans.PlanWalk
      .flatten(joined.queryExecution.executedPlan)
    val shuffledTableSide = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if graft.plans.PlanWalk.flatten(e.child).exists {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.tableIdentifier.exists(_.table == ident.table)
            case _ => false
          } => e
    }
    require(shuffledTableSide.isEmpty,
      s"probeKeyedTable (join form): the executed plan shuffles the " +
        s"table side of $table — the bucketed scan's partitioning " +
        "claim was lost (stage-preparation rules dropped the forced " +
        "bucketed scan?); the probe that just ran re-shuffled the " +
        "table at corpus size")
    out
  }

  /** Persist a corpus's content-fingerprint set as a key-bucketed
    * catalog table: one row per distinct `md5(textCol)`, bucketed by
    * the fingerprint — the exact-membership ground truth the streamed
    * ingest flows probe per micro-batch ([[exactMembershipViaTable]]).
    * Unlike the bloom (config-sized, probabilistic, broadcast), this
    * is the corpus-sized EXACT side — which is why it must be a
    * bucket-pruned table and never a per-delivery scan. */
  def buildFingerprintTable(corpus: DataFrame, textCol: String,
      table: String, buckets: Int = 32): Unit =
    buildKeyedTable(
      corpus.select(md5(col(textCol)).as("fp")).distinct(), "fp",
      table, buckets)

  /** [[exactMembership]] with the verifying side persisted: bloom
    * probe first (no false negatives, so every true member is a
    * candidate), then the candidate minority verified by bucket-pruned
    * point lookups of a [[buildFingerprintTable]] table — the corpus
    * is never scanned at probe time, so a streamed flow probing once
    * per micro-batch pays O(batch) per delivery instead of a full
    * corpus read (the one-shot [[exactMembership]]'s scan amortizes
    * over a single large batch; per-delivery it does not). Returns the
    * same (idCol, maybe_member, is_member) frame. The bloom verdict
    * is referenced twice (candidate derivation + the final join), so
    * it checkpoints eagerly — batch-grain — instead of re-running the
    * probe rollups per consumer (the double-pass the one-shot form
    * documents and leaves to its callers). */
  def exactMembershipViaTable(spark: org.apache.spark.sql.SparkSession,
      fpTable: String, batch: DataFrame, textCol: String, idCol: String,
      bloom: DataFrame, mBits: Int = 1 << 20, k: Int = 3): DataFrame =
      DriverBounded.labeled(spark, s"exactMembershipViaTable:$fpTable") {
    val keyed = batch.select(col(idCol), md5(col(textCol)).as("fp"))
    val probed = probeBloom(keyed, "fp", idCol, bloom, mBits, k)
      .localCheckpoint(true)
    val candidates = probed.filter(col("maybe_member"))
      .join(keyed, Seq(idCol))
      .select(col(idCol), col("fp"))
    val present = probeKeyedTable(spark, fpTable, candidates, "fp")
    val confirmed = candidates
      .join(broadcast(present.select(col("fp"))), Seq("fp"))
      .select(col(idCol)).distinct()
      .withColumn("is_member", lit(true))
    probed.join(broadcast(confirmed), Seq(idCol), "left")
      .select(col(idCol), col("maybe_member"),
        coalesce(col("is_member"), lit(false)).as("is_member"))
  }

  /** Bloom-filter membership artifact over a key column (content
    * fingerprints) — the exact-dedup complement of [[buildBandIndex]]
    * for the production ingest shape: a daily batch's exact-duplicate
    * verdicts against a 100 TB corpus need no corpus join, because the
    * corpus aggregates ONCE to this config-sized bitmap, which then
    * BROADCASTS to every probe. `mBits` filter bits packed 32 per row
    * (bit positions 0..31, so every mask is a small positive long —
    * no sign games in any engine), `k` salted md5 hash functions.
    * One corpus pass: key explodes to its k (word, bit) cells, one
    * map-side-combined `bit_or` aggregate collapses them to at most
    * mBits/32 rows per task. The (mBits, k) config rides `bits`'
    * column metadata; probing validates it (a mismatch re-hashes into
    * the wrong bit space). False-positive rate for n keys is the
    * standard (1 − e^(−kn/m))^k — size mBits ≥ ~10n for ~1% at k=3;
    * false positives only send extra candidates to a verifying join,
    * never lose a document (no false negatives, ever — set union via
    * OR is exact). Merging two filters of identical config is
    * `bit_or` per word — idempotent under replay, which is what makes
    * the artifact maintainable incrementally. */
  def buildBloom(df: DataFrame, keyCol: String, mBits: Int = 1 << 20,
      k: Int = 3): DataFrame = {
    require(mBits > 0 && mBits % 32 == 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    requireBloomK(k)
    val cfg = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("mBits", mBits.toLong).putLong("k", k.toLong).build()
    df.select(explode(array((0 until k).map(s =>
        bloomCell(col(keyCol), s, mBits)): _*)).as("__h"))
      .groupBy(expr("__h div 32").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(__h % 32 AS INT)))")
        .as("bits", cfg))
  }

  /** One salted hash cell: top-48-bit md5 bucket of salt||key into
    * [0, mBits) — the d35/d38 engine-neutral hash family. The salt
    * prepends with NO separator, so the scheme is prefix-free only
    * for single-digit salts ("1"+"1x" vs "11"+"x" alias at k >= 11,
    * correlating the hash functions); [[requireBloomK]] enforces the
    * bound at every public entry. */
  private def bloomCell(key: Column, salt: Int, mBits: Int): Column =
    (conv(substring(md5(concat_ws("", lit(salt.toString), key)),
      1, 12), 16, 10).cast("long") % mBits)

  /** Guard for the [[bloomCell]] salt scheme: k in [1, 10]. */
  private def requireBloomK(k: Int): Unit =
    require(k >= 1 && k <= 10,
      s"k must be in [1, 10], got $k — bloomCell prepends the salt " +
        "digit with no separator, so salts beyond one digit alias " +
        "(salt 1 on key '1x' = salt 11 on key 'x') and correlate the " +
        "hash functions, inflating the false-positive rate")

  /** Probe a [[buildBloom]] artifact: appends `maybe_member` — true
    * iff every one of the key's k bits is set. No false negatives; a
    * deterministic false-positive minority goes on to the verifying
    * join (callers prune that join to `maybe_member` rows, which is
    * the entire point — the corpus-sized side is touched only by the
    * candidate subset). One batch pass: k-cell explode, ONE broadcast
    * join of the config-sized bitmap, per-key then per-doc rollup.
    * Null keys probe no cells and come back `maybe_member = false`.
    * Duplicate (`idCol`, `keyCol`) rows are collapsed first (a
    * replayed row must not double its cells — `sum === k` would
    * report a genuine member as false); duplicate ids carrying
    * DIFFERENT keys FAIL LOUDLY (raise_error in the final rollup) —
    * silently picking one key would make `maybe_member`
    * partition-order-dependent on malformed input, in tension with
    * the no-false-negatives contract, and every other graft entry
    * point refuses ambiguity rather than resolving it arbitrarily.
    * The id→key functional dependency is the upstream contract (ids
    * are content-hash grain); this guard just makes a breach loud.
    * Costs one extra micro-batch-grain exchange vs the single-rollup
    * form (the (id, key) aggregate reuses the dedup's partitioning;
    * the id-grain rollup re-keys) — batch-proportional, never
    * corpus. */
  def probeBloom(batch: DataFrame, keyCol: String, idCol: String,
      bloom: DataFrame, mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    require(mBits > 0 && mBits % 32 == 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    requireBloomK(k)
    bloom.schema.fields.find(_.name == "bits").map(_.metadata)
      .filter(_.contains("mBits")).foreach { m =>
        require(m.getLong("mBits") == mBits && m.getLong("k") == k,
          s"probeBloom: bloom artifact was built with mBits=" +
            s"${m.getLong("mBits")}, k=${m.getLong("k")} but probing " +
            s"was invoked with $mBits/$k — bits would re-hash into " +
            "the wrong space")
      }
    batch
      .dropDuplicates(Seq(idCol, keyCol))
      .select(col(idCol), col(keyCol).as("__key"),
        explode_outer(when(col(keyCol).isNotNull, array((0 until k).map(s =>
          bloomCell(col(keyCol), s, mBits)): _*))).as("__h"))
      .withColumn("__w", expr("__h div 32"))
      .join(broadcast(bloom.select(col("word").as("__w"),
        col("bits").cast("long").as("__bits"))), Seq("__w"), "left")
      .withColumn("__hit",
        (coalesce(col("__bits"), lit(0L))
          .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(__h % 32 AS INT))"))) =!= 0)
      .groupBy(col(idCol), col("__key"))
      .agg((sum(when(col("__hit"), 1L).otherwise(0L)) === k)
        .as("__key_member"))
      .groupBy(col(idCol))
      .agg(max(col("__key_member")).as("__mm"), count(lit(1)).as("__nk"))
      .select(col(idCol),
        when(col("__nk") > 1, raise_error(concat(
            lit("probeBloom: id "), col(idCol).cast("string"),
            lit(" carries conflicting keys — ids must be key-grain " +
              "(one key per id); dedupe upstream or probe at key grain"))))
          .otherwise(col("__mm")).as("maybe_member"))
  }

  /** The composed exact-membership ingest flow (d49): corpus content
    * fingerprints → [[buildBloom]] (localized through the provably
    * mBits/32-bounded driver hop so reuse never re-runs the corpus
    * aggregate), batch probed, and the bloom's false positives
    * settled by the verifying join — whose corpus side is semi-joined
    * by the BROADCAST candidate keys, so the full corpus is scanned
    * once (projected to its 32-hex fingerprint) and shuffles nothing.
    * Returns (idCol, maybe_member, is_member): `maybe_member` is the
    * filter's verdict, `is_member` the verified truth. The probe
    * frame is referenced twice (candidate derivation + final join),
    * so Spark re-runs the BATCH-grain aggregate once more — one extra
    * pass over the micro-batch, never the corpus; callers holding a
    * large batch persist it first. */
  def exactMembership(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, mBits: Int = 1 << 20,
      k: Int = 3): DataFrame = {
    val bloom = TextAnalysis.localizeStats(
      buildBloom(corpus.select(md5(col(textCol)).as("__key")), "__key",
        mBits, k))
    val probed = probeBloom(
      batch.select(col(idCol), md5(col(textCol)).as("__key")),
      "__key", idCol, bloom, mBits, k)
    val candidates = probed.filter(col("maybe_member"))
      .join(batch.select(col(idCol), md5(col(textCol)).as("__key")),
        Seq(idCol))
      .select(col(idCol), col("__key"))
    val confirmed = corpus.select(md5(col(textCol)).as("__key"))
      .join(broadcast(candidates), Seq("__key"))
      .select(col(idCol)).distinct()
      .withColumn("is_member", lit(true))
    probed.join(broadcast(confirmed), Seq(idCol), "left")
      .select(col(idCol), col("maybe_member"),
        coalesce(col("is_member"), lit(false)).as("is_member"))
  }

  /** Persist/extend a [[buildBloom]] artifact at `path` (parquet —
    * the (mBits, k) config survives the footer round-trip in `bits`'
    * column metadata): fold `df`'s keys in by per-word OR. OR is
    * idempotent, so at-least-once delivery has exactly-once artifact
    * effect with ZERO bookkeeping — no anti-join, no delivery log —
    * which is what makes the bloom the cheapest incrementally
    * maintained dedup index (the band index needs its bucket-pruned
    * idempotence probe; this needs nothing). The merged frame
    * localizes through the provably mBits/32-bounded driver hop
    * BEFORE any write, so the rewrite never reads the path it
    * replaces.
    *
    * The rewrite commits through [[StagedReplace.replaceDir]], so no
    * crash point leaves zero copies of the membership artifact (a lost
    * bloom means a full corpus re-aggregation to rebuild it); the next
    * [[mergeBloomInto]] or [[loadBloom]] heals an interrupted one by
    * StagedReplace's one rule — a committed stage is the full merged
    * bitmap and is promoted, an uncommitted one is discarded and the
    * redelivered batch redoes its merge (OR-idempotent, nothing lost). */
  def mergeBloomInto(path: String, df: DataFrame, keyCol: String,
      mBits: Int = 1 << 20, k: Int = 3): Unit = {
    val spark = df.sparkSession
    val add = buildBloom(df, keyCol, mBits, k)
    // existence through the Hadoop FS API, not java.io.File: the path
    // may live on any Hadoop filesystem (hdfs://, s3a://) — a local-FS
    // check is always false there and would silently REPLACE the
    // accumulated bloom with only this batch's bits (lost membership
    // bits = missed exact duplicates, violating the no-false-negatives
    // contract)
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    StagedReplace.healDir(spark, hadoopPath)
    val merged =
      if (fs.exists(hadoopPath)) {
        val existing = spark.read.parquet(path)
        existing.schema.fields.find(_.name == "bits").map(_.metadata)
          .filter(_.contains("mBits")).foreach { m =>
            require(m.getLong("mBits") == mBits && m.getLong("k") == k,
              s"mergeBloomInto: artifact at $path was built with mBits=" +
                s"${m.getLong("mBits")}, k=${m.getLong("k")} but the " +
                s"merge was invoked with $mBits/$k")
          }
        val cfg = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("mBits", mBits.toLong).putLong("k", k.toLong).build()
        existing.select(col("word"), col("bits")).unionByName(add)
          .groupBy("word")
          .agg(expr("bit_or(bits)").as("bits", cfg))
      } else add
    StagedReplace.replaceDir(spark, hadoopPath) { stage =>
      TextAnalysis.localizeStats(merged)
        .write.mode("overwrite").parquet(stage.toString)
    }
  }

  /** Read a [[mergeBloomInto]] artifact, healing an interrupted
    * rewrite first — the probe-side half of the staging contract (a
    * probe landing between a crash and the next merge still sees one
    * full committed copy). */
  def loadBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    StagedReplace.healDir(spark, new org.apache.hadoop.fs.Path(path))
    spark.read.parquet(path)
  }

  /** Jaccard similarity of the distinct-token sets of candidate pairs.
    * `blockCol` is the blocking key (equal values are compared). */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val base = df.select(col(idCol), col(blockCol),
      TextAnalysis.tokenSet(col(textCol)).as("__tk"))
    val a = base.select(col(idCol).as("a_id"), col(blockCol).as("__a_bk"), col("__tk").as("__a_tk"))
    val b = base.select(col(idCol).as("b_id"), col(blockCol).as("__b_bk"), col("__tk").as("__b_tk"))
    val inter = size(array_intersect(col("__a_tk"), col("__b_tk")))
    // symmetric alias-projections + shuffle hints: the two block-key
    // exchanges canonicalize identically, so the tokenization runs once
    // and the other side is a ReusedExchange (see bandSelfJoin).
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"),
        col("__a_bk") === col("__b_bk") && col("a_id") < col("b_id"))
      .withColumn("jaccard",
        inter.cast("double") / (size(col("__a_tk")) + size(col("__b_tk")) - inter))
      .filter(col("jaccard") > threshold)
      .select("a_id", "b_id", "jaccard")
  }
}
