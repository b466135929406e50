package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{Scratch, Tables}

/** Oracle-checked coverage of graft.operators.Similarity over the
  * `embeddings` table. Query vectors are vec_id < 10; centroids for the
  * IVF path are vec_id % 50 == 0. Scores are never emitted — ranks carry
  * a total tiebreak so float noise cannot change the output.
  */
object VectorOps {

  private val K = 5
  private val NQ = 10
  private val NPlanes = 6
  private val Dim = 64 // embeddings.embedding is FLOAT[64] (TESTDATA.md)
  private val PqM = 8 // PQ subspaces (Dim / PqM dims each)
  private val PqK = 16 // PQ codebook cap: K stays fixed at any corpus sf
  // IVF centroid cap: the centroid set broadcasts into the assignment
  // join, so like the PQ codebook it must be configuration-sized — a
  // bare `% 50` predicate would grow it (and the broadcast) linearly
  // with the corpus. Deterministic id-ordered limit; a no-op at the
  // sf0.01 gate (10 candidates), binding from sf0.1 up (40 → 20).
  private val IvfC = 20

  private def centroids(base: DataFrame): DataFrame =
    base.filter(col("vec_id") % 50 === 0).orderBy("vec_id").limit(IvfC)

  /** The sampled PQ codebook every PQ query trains: `PqM` subspaces
    * over the vec_id % 50 == 0 sample, at most `PqK` codewords each —
    * the engine side of the oracles' `c` CTE. */
  private def pqCodebook(base: DataFrame): Seq[Seq[Array[Float]]] =
    Similarity.pqTrainSampled(base.filter(col("vec_id") % 50 === 0),
      "vec_id", m = PqM, maxCodewords = PqK)

  /** The persisted IVF serving index (e13, e16, e18): every
    * vec_id >= NQ vector assigned against `cents`, in 4 buckets. The
    * first NQ stay out — they arrive as external queries. */
  private def ivfIndex(base: DataFrame, cents: DataFrame,
      tbl: String): Unit =
    Similarity.buildIvfIndex(Similarity.assignToCentroids(
      base.filter(col("vec_id") >= NQ), cents, "vec_id"), tbl, buckets = 4)

  /** The persisted IVF-PQ index of `rows` (e15, e17, e20 index
    * vec_id >= NQ; w16 seeds it with the even half): assigned against
    * `cents`, encoded with `cb`, in 4 buckets. */
  private def pqIndex(rows: DataFrame, cents: DataFrame,
      cb: Seq[Seq[Array[Float]]], tbl: String): Unit =
    Similarity.buildPqIndex(Similarity.pqEncode(
        Similarity.assignToCentroids(rows, cents, "vec_id"), "vec_id", cb),
      "vec_id", tbl, cb, cents, buckets = 4)

  /** The persisted Matryoshka store of `rows` (e14, e19, w15): 8
    * buckets, 16 persisted prefix dims. */
  private def vectorStore(rows: DataFrame, tbl: String): Unit =
    Similarity.buildVectorStore(rows, "vec_id", tbl, buckets = 8,
      prefixDims = 16)

  /** The takedown every delete gate runs on its index (e18, e19, e20):
    * delete the vec_id % 14 == 3 half of the vec_id % 7 == 3 slice,
    * apply it with the family's `compact` (rows rewritten away,
    * tombstones truncated), then delete the % 14 == 10 half and leave
    * it pending. The oracles see one thing: the slice is gone. */
  private def takedown(s: SparkSession, base: DataFrame, tbl: String)(
      compact: (SparkSession, String) => Unit): Unit = {
    def delete(residue: Int): Unit = Similarity.deleteFromIndex(s, tbl,
      base.filter(col("vec_id") >= NQ && col("vec_id") % 14 === residue),
      "vec_id")
    delete(3)
    compact(s, tbl)
    delete(10)
  }

  private val centroidsSql =
    s"(SELECT vec_id, v, nrm FROM e WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT $IvfC)"
  private val Shortlist = 25 // e07 stage-1 ADC candidate count

  /** A ±1 hyperplane as a DuckDB DOUBLE[] literal — the single encoding
    * of the Scala-derived weights every plane-based oracle must share
    * (hyperplaneWeights is pure, so both engines see identical
    * constants; list_dot_product on DOUBLE[] is a sequential double
    * fold, matching graft_dot's widening fold). */
  private def planeSqlLiteral(w: Array[Float]): String =
    w.map(x => if (x > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]") + "::DOUBLE[]"

  /** The sign-LSH bucket key as DuckDB SQL over the shared plane
    * literals. */
  private def lshBucketSql(v: String): String =
    Similarity.hyperplaneWeights(NPlanes, Dim).map { w =>
      s"(CASE WHEN list_dot_product($v, ${planeSqlLiteral(w)}) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_knn_brute" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.knnBrute(base, base.filter(col("vec_id") < NQ), "vec_id", K)
    }),

    "e02_knn_ivf" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val assigned = Similarity.assignToCentroids(base, centroids(base), "vec_id")
      Similarity.knnIvf(assigned, col("vec_id") < NQ, "vec_id", K)
    }),

    // Sign-LSH ANN: 6 deterministic ±1 hyperplanes bucket the corpus in
    // one narrow pass; probes run inside the query's bucket only.
    "e03_knn_lsh" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val bucketed = Similarity.assignLshBuckets(
        base, "vec_id", Similarity.hyperplaneWeights(NPlanes, Dim))
      Similarity.knnIvf(bucketed, col("vec_id") < NQ, "vec_id", K)
    }),

    // Matryoshka two-stage ANN: 16-of-64-dim prefix cosine shortlists
    // 50 per query, exact full-dim rerank picks the top-5.
    "e12_knn_matryoshka" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.knnMatryoshka(base, col("vec_id") < NQ, "vec_id", K,
        prefixDims = 16, shortlist = 50)
    }),

    // EXTERNAL-vector serving probe of a PERSISTED IVF index: the
    // index holds ONLY vec_id >= NQ; the first NQ vectors play
    // external queries — held OUT of the index and assigned to their
    // centroid bucket at probe time against the same fixed codebook
    // the index was built with. The path a deployed index actually
    // serves (query vectors arrive from outside the corpus), which
    // query-by-id probeIvfIndex cannot express.
    "e13_knn_ivf_external" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e13", d)
      ivfIndex(base, cents, tbl)
      Similarity.probeIvfIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K)
    }),

    // TAKEDOWN on the persisted IVF serving index (copyright/PII/
    // opt-out removal — the delete lifecycle): the e13 corpus is
    // indexed, then the vec_id % 7 == 3 slice is DELETED in two
    // halves — the first applied physically by a compact (rows
    // rewritten away, tombstones truncated), the second left PENDING
    // (excluded by the probes' broadcast anti-join only) — and the
    // index serves external queries. The oracle sees one thing: the
    // slice is gone, regardless of which delete was applied and
    // which is pending.
    "e18_knn_ivf_delete" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e18", d)
      ivfIndex(base, cents, tbl)
      takedown(s, base, tbl)(Similarity.compactIvfIndex)
      Similarity.probeIvfIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K)
    }),

    // EXTERNAL-vector serving probe of the persisted Matryoshka
    // vector store (the e13 story for the second index family): the
    // store holds only vec_id >= NQ with 16-dim persisted prefix
    // columns; the held-out first NQ arrive as external queries,
    // sliced to the STORE's own prefix width at probe time,
    // prefix-shortlisted against the narrow (id, vt, nt) scan, and
    // exactly reranked over bucket-pruned In(id) point lookups.
    "e14_knn_store_external" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e14", d)
      vectorStore(base.filter(col("vec_id") >= NQ), tbl)
      Similarity.probeVectorStoreExternal(s, tbl,
        base.filter(col("vec_id") < NQ), "vec_id", K, shortlist = 50)
    }),

    // TAKEDOWN on the persisted Matryoshka store (the e18 delete
    // lifecycle on the second index family): the deleted slice is
    // excluded from the prefix SHORTLIST itself — live next-best
    // candidates refill it — with one delete applied by a mid-cycle
    // compact and one left pending at probe time.
    "e19_knn_store_delete" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e19", d)
      vectorStore(base.filter(col("vec_id") >= NQ), tbl)
      takedown(s, base, tbl)(Similarity.compactVectorStore(_, _, "vec_id"))
      Similarity.probeVectorStoreExternal(s, tbl,
        base.filter(col("vec_id") < NQ), "vec_id", K, shortlist = 50)
    }),

    // Streaming Matryoshka-store maintenance, driver-verified end to
    // end — the w07 story for the vector store, completing the fourth
    // persisted-artifact lifecycle: the store is built on the EVEN
    // half of the corpus (vec_id >= NQ only — the e14 serving split),
    // the odd half streams through readStream -> foreachBatch ->
    // appendToVectorStore in three micro-batch slices PLUS a replayed
    // slice (at-least-once), with the store COMPACTED mid-stream after
    // the second slice, and the PERSISTED table is served EXTERNAL
    // queries — results must hash-match the one-shot e14 oracle
    // exactly: the streamed store equals the one-shot store (prefix
    // columns recomputed per batch at the store's own stamped width),
    // the replay added nothing (the In(id) bucket-pruned idempotence
    // check, probing INTO the compacted files), and the compaction
    // moved no rows and kept the sort spec + serving stamps.
    "w15_store_stream_append" -> ((s, d) => {
      val loc = Scratch.dir("w15", d)
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val corpus = base.filter(col("vec_id") >= NQ)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "w15", d)
      vectorStore(corpus.filter(col("vec_id") % 2 === 0), tbl)
      // the odd half as three id-sliced files + slice 0 redelivered
      val rest = Tables.embeddings(s, d)
        .filter(col("vec_id") >= NQ && col("vec_id") % 2 === 1)
      // compaction UNDER LIVE TRAFFIC at the store grain: after the
      // second slice, rewrite back to one sorted file per bucket
      // mid-stream — slice 2 then appends AGAINST the compacted
      // table, and the replayed slice's In(id) idempotence lookups
      // must find slice 0's rows INSIDE the compacted files
      StreamSlices.replay(s, loc, "w15",
          StreamSlices.residueSlices(rest, "vec_id"))(
        StreamSlices.compactingAfterSecond("w15", tbl) { bs =>
          Similarity.compactVectorStore(bs, tbl, "vec_id")
          // and the serving stamps must survive the staging swap
          require(graft.operators.BucketedStore.tableProp(bs, tbl,
              Similarity.PrefixDimsProp).contains("16"),
            "w15: the compaction swap dropped the store's prefix-width " +
              "serving stamp")
        } { batch =>
          Similarity.appendToVectorStore(
            Similarity.withNorm(batch, "vec_id", "embedding"),
            tbl, "vec_id")
        })
      Similarity.probeVectorStoreExternal(s, tbl,
        base.filter(col("vec_id") < NQ), "vec_id", K, shortlist = 50)
    }),

    // Multi-probe sign-LSH ANN: each query also scans every Hamming-1
    // bucket, closing e03's boundary-recall gap (a bucket with < k
    // members no longer truncates the query's top-k).
    "e04_knn_multiprobe" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val bucketed = Similarity.assignLshBuckets(
        base, "vec_id", Similarity.hyperplaneWeights(NPlanes, Dim))
      Similarity.knnLshMultiProbe(bucketed, col("vec_id") < NQ, "vec_id", K, NPlanes)
    }),

    // Product-quantized ANN: sampled codebooks (vec_id % 50 == 0, M=8
    // subspaces), L2-argmin encode, dot-product ADC scan. The corpus
    // side carries only the M-int codes; the Q×M×K table broadcasts.
    "e05_knn_pq" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cb = pqCodebook(base)
      Similarity.knnPq(Similarity.pqEncode(base, "vec_id", cb),
        base.filter(col("vec_id") < NQ), "vec_id", cb, K)
    }),

    // IVF-PQ: centroid-bucket probe composed with ADC code ranking —
    // both scale levers (candidate cut + bytes-per-candidate cut).
    "e06_knn_ivfpq" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val assigned = Similarity.assignToCentroids(base, centroids(base), "vec_id")
      val cb = pqCodebook(base)
      val encoded = Similarity.pqEncode(assigned, "vec_id", cb)
      Similarity.knnIvfPq(encoded, encoded.filter(col("vec_id") < NQ),
        "vec_id", cb, K)
    }),

    // Persisted IVF-PQ SERVING index: codes (M ints per vector) and
    // PQ codebooks persist at build time — the memory-light production
    // ANN family, served; the held-out first NQ arrive as external
    // queries, ADC tables computed from the PERSISTED codebooks (the
    // exact quantizer reconstructed from the catalog), centroid
    // assignment against the fingerprint-verified codebook, and the
    // codes scan bucket-pruned to the queries' centroid set.
    "e15_knn_pq_external" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val cb = pqCodebook(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e15", d)
      pqIndex(base.filter(col("vec_id") >= NQ), cents, cb, tbl)
      Similarity.probePqIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K)
    }),

    // TAKEDOWN on the persisted IVF-PQ serving index (the e18 delete
    // lifecycle on the third family): deleted codes are excluded
    // BEFORE the ADC ranking, one delete applied by a mid-cycle
    // compact (codebook stamps surviving the rewrite), one pending.
    "e20_knn_pq_delete" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val cb = pqCodebook(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e20", d)
      pqIndex(base.filter(col("vec_id") >= NQ), cents, cb, tbl)
      takedown(s, base, tbl)(Similarity.compactPqIndex)
      Similarity.probePqIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K)
    }),

    // EXTERNAL multi-probe IVF serving: each held-out query scans its
    // 3 highest-cosine centroid buckets of the persisted index — the
    // e11 recall lever on the e13 serving path. The probe side grows
    // to Q x 3 rows and the pruned scan to the union of probed
    // buckets, both configuration-bounded.
    "e16_knn_ivf_ext_multiprobe" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e16", d)
      ivfIndex(base, cents, tbl)
      Similarity.probeIvfIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K,
        probes = IvfProbes)
    }),

    // EXTERNAL multi-probe IVF-PQ serving: the e16 recall lever on the
    // e15 memory-light serving path — nprobe, THE production IVF-PQ
    // serving knob. Each held-out query fans to its 3 highest-cosine
    // centroid buckets of the persisted codes table; its ADC table
    // (from the PERSISTED codebooks) rides the probe rows, the pruned
    // codes scan widens to the union of probed buckets. Probe side
    // Q x 3 rows, broadcast Q x 3 x M x K doubles — configuration-
    // bounded; the corpus side still reads M ints per candidate.
    "e17_knn_pq_ext_multiprobe" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val cb = pqCodebook(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "e17", d)
      pqIndex(base.filter(col("vec_id") >= NQ), cents, cb, tbl)
      Similarity.probePqIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K,
        probes = IvfProbes)
    }),

    // Streaming PQ-index maintenance — the w07/w15 story for the
    // FOURTH persisted grain: the codes table is built on the even
    // half (vec_id >= NQ), the odd half streams through readStream ->
    // foreachBatch -> appendToPqIndex in three micro-batch slices PLUS
    // a replayed slice, each batch ENCODED WITH THE PERSISTED
    // CODEBOOKS (the quantizer never drifts mid-stream), the index
    // COMPACTED mid-stream after the second slice, and the PERSISTED
    // table served external queries — results must hash-match the
    // one-shot e15 oracle exactly.
    "w16_pq_stream_append" -> ((s, d) => {
      val loc = Scratch.dir("w16", d)
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val cb = pqCodebook(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "w16", d)
      pqIndex(base.filter(col("vec_id") >= NQ && col("vec_id") % 2 === 0),
        cents, cb, tbl)
      // the odd half as three id-sliced files + slice 0 redelivered
      val rest = Tables.embeddings(s, d)
        .filter(col("vec_id") >= NQ && col("vec_id") % 2 === 1)
      // compaction UNDER LIVE TRAFFIC at the PQ grain: slice 2
      // appends against the compacted codes, and the replayed
      // slice's (cid, id) idempotence lookups must find slice 0's
      // rows inside the compacted files
      StreamSlices.replay(s, loc, "w16",
          StreamSlices.residueSlices(rest, "vec_id"))(
        StreamSlices.compactingAfterSecond("w16", tbl) { bs =>
          Similarity.compactPqIndex(bs, tbl)
          require(graft.operators.BucketedStore.tableProp(bs, tbl,
              Similarity.CodebookProp).isDefined,
            "w16: the compaction swap dropped the codebook stamp")
        } { batch =>
          Similarity.appendToPqIndex(
            Similarity.withNorm(batch, "vec_id", "embedding"),
            tbl, cents, "vec_id")
        })
      Similarity.probePqIndexExternal(s, tbl,
        base.filter(col("vec_id") < NQ), cents, "vec_id", K)
    }),

    // Two-stage retrieval: PQ ADC shortlist (25) -> exact cosine
    // re-rank -> top-5, with stage 2 as bucket-pruned point lookups
    // against a persisted id-bucketed vector store (sf-keyed table so
    // concurrent runs at other scale factors cannot clobber it).
    "e07_knn_refine" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cb = pqCodebook(base)
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "v", d)
      Similarity.buildVectorStore(base, "vec_id", tbl, buckets = 8)
      Similarity.knnPqRefineIndexed(tbl,
        Similarity.pqEncode(base, "vec_id", cb),
        base.filter(col("vec_id") < NQ), "vec_id", cb,
        shortlist = Shortlist, k = K)
    }),

    // Streaming IVF index maintenance, driver-verified end to end: the
    // index is built on HALF the corpus, the remainder streams through
    // readStream -> foreachBatch -> appendToIvfIndex in three
    // micro-batch slices PLUS a replayed slice (at-least-once), with
    // the index COMPACTED mid-stream after the second slice, and the
    // PERSISTED table is probed — results must hash-match the
    // one-shot e02 oracle exactly: the streamed index equals the
    // one-shot index, the replay added nothing (the (cid, id)
    // bucket-pruned idempotence check, probing INTO the compacted
    // files), and the compaction moved no rows.
    "w07_ivf_stream_append" -> ((s, d) => {
      val loc = Scratch.dir("w07", d)
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val n = base.count()
      val cut = n / 2
      val tbl = Scratch.catalogTable(s, "graft_vecstore", "w07", d)
      Similarity.buildIvfIndex(
        Similarity.assignToCentroids(base.filter(col("vec_id") < cut),
          cents, "vec_id"), tbl, buckets = 4)
      // the rest as three id-sliced files + slice 0 redelivered
      val rest = Tables.embeddings(s, d).filter(col("vec_id") >= cut)
      // compaction UNDER LIVE TRAFFIC at the IVF grain (the d51/w10
      // story for the third artifact): after the second slice,
      // rewrite the index back to one file per bucket mid-stream —
      // slice 2 then appends AGAINST the compacted table, and the
      // replayed slice's (cid, id) idempotence lookups must find
      // slice 0's rows INSIDE the compacted files (append nothing)
      StreamSlices.replay(s, loc, "w07",
          StreamSlices.residueSlices(rest, "vec_id"))(
        StreamSlices.compactingAfterSecond("w07", tbl)(
            Similarity.compactIvfIndex(_, tbl)) { batch =>
          Similarity.appendToIvfIndex(
            Similarity.withNorm(batch, "vec_id", "embedding"),
            tbl, cents, "vec_id", buckets = 4)
        })
      Similarity.probeIvfIndex(s, tbl, col("vec_id") < NQ, "vec_id", K)
    }),

    // Embedding-cosine near-dup: same-centroid blocking, cosine > 0.4.
    "d09_embed_neardup" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val assigned = Similarity.assignToCentroids(base, centroids(base), "vec_id")
      Similarity.nearDupPairs(assigned, "vec_id", threshold = 0.4)
    }),

    // SemDeDup-style semantic dedup: d09's same-centroid cosine pairs
    // feed d11's connected-component resolution over the EMBEDDING
    // space; every vector whose component representative (min id) is
    // another vector is dropped. Output: the surviving corpus with its
    // cluster id — the keep-list a semantic-dedup pass hands the
    // downstream pipeline.
    "d30_semantic_dedup" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val assigned = Similarity.assignToCentroids(base, centroids(base), "vec_id")
      val pairs = Similarity.nearDupPairs(assigned, "vec_id", threshold = 0.4)
      val groups = graft.operators.Dedup.nearDupGroups(pairs)
      assigned.select(col("vec_id"), col("cid"))
        .join(groups.filter(col("doc_id") =!= col("group_id"))
          .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
    }),

    // Spherical k-means fit — the IVF centroid TRAINING step the other
    // e-queries assume as given: 8 clusters seeded in md5(vec_id) hash
    // order (ingestion-order-independent), 2 Lloyd rounds with exact
    // milli-quantized mean updates (bit-deterministic under any
    // partitioning). Output is the final assignment plus cluster
    // sizes — integers only, hash-robust.
    "e08_kmeans_fit" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = Similarity.kmeansFit(base, "vec_id", k = KmK,
        iters = KmIters, dim = Dim, quantScale = KmScale)
      val sizes = model.assignment.groupBy("cid")
        .agg(count(lit(1)).as("cluster_size"))
      model.assignment.select(col("vec_id"), col("cid"))
        .join(broadcast(sizes), Seq("cid"))
        .select(col("vec_id"), col("cid"), col("cluster_size"))
    }),

    // Trained IVF: the e08 -> e02 composition as one gated query —
    // k-means centroids REPLACE the id-sampled codebook (measured
    // better recall at every matched cost point, SCALING.md "ANN
    // recall"), and the model's assignment probes exactly like e02.
    "e10_knn_ivf_trained" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val model = Similarity.kmeansFit(base, "vec_id", k = KmK,
        iters = KmIters, dim = Dim, quantScale = KmScale)
      Similarity.knnIvf(model.assignment, col("vec_id") < NQ, "vec_id", K)
    }),

    // Multi-probe IVF: each query scans its 3 highest-cosine centroid
    // buckets (the probes-over-finer-cells recall lever the r11 sweep
    // measured) instead of only the nearest.
    "e11_knn_ivf_multiprobe" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = centroids(base)
      val assigned = Similarity.assignToCentroids(base, cents, "vec_id")
      Similarity.knnIvfMultiProbe(assigned, cents, col("vec_id") < NQ,
        "vec_id", K, probes = IvfProbes)
    }),

    // JL random projection 64 -> 16 dims; components surface as
    // micro-unit-rounded BIGINTs so the hash compare never touches a
    // raw double column.
    "e09_random_projection" -> ((s, d) => {
      val base = Similarity.withNorm(Tables.embeddings(s, d), "vec_id", "embedding")
      val rp = Similarity.randomProject(base, "vec_id", outDim = RpDim, dim = Dim)
      rp.select(col("vec_id") +: (1 to RpDim).map(j =>
        expr(s"cast(round(cast(element_at(rp, $j) as double) * 1000000) as bigint)")
          .as(f"p$j%02d")): _*)
    })
  )

  private val IvfProbes = 3 // e11 multi-probe centroid count
  private val KmK = 8 // k-means clusters (configuration-sized codebook)
  private val KmIters = 2 // Lloyd rounds (unrolled verbatim in the oracle)
  private val KmScale = 1000 // exact-update quantization: round(v*1000) longs
  private val RpDim = 16 // JL projection output dims

  private val vSql = "list_transform(embedding, x -> x::DOUBLE)"

  /** The sampled-centroid assignment CTE chain shared by the e02, e11
    * and d09 oracles — `e` (normed corpus), `c` (the $centroidsSql
    * codebook), `assigned` (max-cosine assignment, ties to the lowest
    * centroid id — the graft_argmax_cos mirror). One definition so a
    * drop-contract or tie-break change cannot desynchronize a subset
    * of the oracles from the engine. */
  private def ivfAssignCtes: String =
    s"""e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM $centroidsSql),
         assigned AS (SELECT vec_id, cid, v, nrm FROM (
           SELECT e.vec_id, c.cid, e.v, e.nrm, row_number()
             OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cid ASC) AS arn
           FROM e CROSS JOIN c) WHERE arn = 1)"""

  /** Shared PQ ADC CTE chain (e05's pipeline through `ranked`): sampled
    * codebooks, L2-argmin encode, query-side table, fixed-order m=0..M-1
    * summation (one value per leg) mirroring the engine's expression
    * fold — a bare SUM() would be order-free only by accident. */
  private def pqAdcCtes: String =
    s"""e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         c AS (SELECT row_number() OVER (ORDER BY vec_id) AS k, cv FROM (
           SELECT vec_id, v AS cv FROM e WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT $PqK)),
         sub AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
         -- encode: argmin_k of |c|^2 - 2*v.c per subspace (|v|^2 constant)
         dists AS (SELECT e.vec_id, s.m, c.k,
           list_dot_product(list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}))
           - 2.0 * list_dot_product(list_slice(e.v, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM})) AS d
           FROM e CROSS JOIN sub s CROSS JOIN c),
         code AS (SELECT vec_id, m, k - 1 AS code FROM (
           SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
           FROM dists) WHERE rn = 1),
         -- query-side table: q_sub . codeword per (m, k)
         qt AS (SELECT q.vec_id AS qid, s.m, c.k,
           list_dot_product(list_slice(q.v, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM})) AS sim
           FROM e q CROSS JOIN sub s CROSS JOIN c WHERE q.vec_id < $NQ),
         approx AS (SELECT qt.qid, cd.vec_id,
           ${(0 until PqM).map(mi => s"sum(CASE WHEN qt.m = $mi THEN qt.sim END)")
             .mkString(" + ")} AS asim
           FROM code cd JOIN qt ON qt.m = cd.m AND qt.k = cd.code + 1
             AND cd.vec_id <> qt.qid
           GROUP BY 1, 2),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY asim DESC, vec_id ASC) AS rank FROM approx)"""

  /** The external-serving store oracle shared by e14 (one-shot build)
    * and w15 (streamed build with replay + mid-stream compact): the
    * e12 shape with the corpus/query SPLIT — the store side holds only
    * vec_id >= NQ, the query side the held-out first NQ, sliced to the
    * same 16-dim prefix in both engines. One definition so the
    * streamed store is pinned to EXACTLY the one-shot result. */
  private def storeExternalOracleSql(stFilter: String = ""): String =
    s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm,
           list_transform(embedding[1:16], x -> x::DOUBLE) AS vt
           FROM embeddings),
         e2 AS (SELECT vec_id, v, nrm, vt,
           sqrt(list_dot_product(vt, vt)) AS nt FROM e),
         st AS (SELECT vec_id, v, nrm, vt, nt FROM e2
           WHERE vec_id >= $NQ$stFilter),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, vt AS qvt, nt AS qnt
           FROM e2 WHERE vec_id < $NQ),
         t AS (SELECT q.qid, st.vec_id, st.v, st.nrm, q.qv, q.qn,
             list_dot_product(st.vt, q.qvt) / (st.nt * q.qnt) AS tsim
           FROM st JOIN q ON st.vec_id <> q.qid),
         sl AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY tsim DESC, vec_id ASC) AS srank FROM t),
         rr AS (SELECT qid, vec_id,
             list_dot_product(v, qv) / (nrm * qn) AS sim
           FROM sl WHERE srank <= 50),
         ranked AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, vec_id ASC) AS rank FROM rr)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked
         WHERE rank <= $K"""

  /** The external-serving IVF oracle shared by e13 (whole index) and
    * e18 (`idxFilter` additionally excludes the deleted slice): the
    * e02 probe pattern with the corpus/query split. */
  private def ivfExternalOracleSql(idxFilter: String = ""): String =
    s"""WITH $ivfAssignCtes,
         idx AS (SELECT vec_id, cid, v, nrm FROM assigned
           WHERE vec_id >= $NQ$idxFilter),
         q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nrm AS qn
           FROM assigned WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, a.vec_id,
           list_dot_product(a.v, q.qv) / (a.nrm * q.qn) AS sim
           FROM idx a JOIN q ON a.cid = q.qcid AND a.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K"""

  /** The multi-probe IVF oracle shared by e11 (self-probe, no filter)
    * and e16 (external serving: `idxFilter` restricts the candidate
    * side to the index membership): per-query centroid ranking
    * (psim DESC, cid ASC) keeps the top $IvfProbes buckets as probes. */
  private def ivfMultiProbeOracleSql(idxFilter: String): String =
    s"""WITH $ivfAssignCtes,
         q0 AS (SELECT vec_id AS qid, v AS qv, nrm AS qn
           FROM assigned WHERE vec_id < $NQ),
         pr AS (SELECT q0.qid, c.cid AS qcid, q0.qv, q0.qn, row_number()
             OVER (PARTITION BY q0.qid
                   ORDER BY list_dot_product(q0.qv, c.cv) / (q0.qn * c.cn) DESC, c.cid ASC) AS prn
           FROM q0 CROSS JOIN c),
         probes AS (SELECT qid, qcid, qv, qn FROM pr WHERE prn <= $IvfProbes),
         sims AS (SELECT p.qid, a.vec_id,
           list_dot_product(a.v, p.qv) / (a.nrm * p.qn) AS sim
           FROM assigned a JOIN probes p ON a.cid = p.qcid AND a.vec_id <> p.qid
           $idxFilter),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K"""

  /** The IVF-PQ ADC oracle shared by e06 (self-probe, no filter) and
    * e15 (persisted serving index: `idxFilter` restricts the codes
    * side to the index membership). Sampled codebooks, L2-argmin
    * encode, centroid-bucket match, fixed-order ADC summation. */
  private def ivfPqOracleSql(idxFilter: String, probes: Int = 1): String = {
    // probes == 1: the candidate's bucket must BE the query's argmax
    // assignment (the original single-probe text, byte-identical for
    // e06/e15/w16). probes > 1: per-query centroid ranking (psim DESC,
    // cid ASC — the e11/e16 probe tiebreak) keeps the top `probes`
    // buckets; a candidate's codes live in exactly one bucket, so the
    // join still pairs each (query, candidate) at most once.
    val probeCtes =
      if (probes <= 1) ""
      else s""",
         pr AS (SELECT e.vec_id AS qid, cent.cid AS qcid, row_number()
             OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, cent.centv) / (e.nrm * cent.cn) DESC,
                     cent.cid ASC) AS prn
           FROM e CROSS JOIN cent WHERE e.vec_id < $NQ),
         probes AS (SELECT qid, qcid FROM pr WHERE prn <= $probes)"""
    val probeJoin =
      if (probes <= 1)
        "JOIN assigned qa ON qa.vec_id = qt.qid AND qa.cid = a.cid"
      else
        "JOIN probes p ON p.qid = qt.qid AND p.qcid = a.cid"
    s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS centv, nrm AS cn
           FROM $centroidsSql),
         assigned AS (SELECT vec_id, cid FROM (
           SELECT e.vec_id, cent.cid, row_number()
             OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, cent.centv) / (e.nrm * cent.cn) DESC,
                     cent.cid ASC) AS arn
           FROM e CROSS JOIN cent) WHERE arn = 1),
         c AS (SELECT row_number() OVER (ORDER BY vec_id) AS k, cv FROM (
           SELECT vec_id, v AS cv FROM e WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT $PqK)),
         sub AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
         dists AS (SELECT e.vec_id, s.m, c.k,
           list_dot_product(list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}))
           - 2.0 * list_dot_product(list_slice(e.v, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM})) AS d
           FROM e CROSS JOIN sub s CROSS JOIN c),
         code AS (SELECT vec_id, m, k - 1 AS code FROM (
           SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
           FROM dists) WHERE rn = 1),
         qt AS (SELECT q.vec_id AS qid, s.m, c.k,
           list_dot_product(list_slice(q.v, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM}),
             list_slice(c.cv, s.m*${Dim / PqM}+1, s.m*${Dim / PqM}+${Dim / PqM})) AS sim
           FROM e q CROSS JOIN sub s CROSS JOIN c WHERE q.vec_id < $NQ)$probeCtes,
         approx AS (SELECT qt.qid, cd.vec_id,
           ${(0 until PqM).map(mi => s"sum(CASE WHEN qt.m = $mi THEN qt.sim END)")
             .mkString(" + ")} AS asim
           FROM code cd
           JOIN assigned a ON a.vec_id = cd.vec_id
           JOIN qt ON qt.m = cd.m AND qt.k = cd.code + 1 AND cd.vec_id <> qt.qid
           $probeJoin
           $idxFilter
           GROUP BY 1, 2),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY asim DESC, vec_id ASC) AS rank FROM approx)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K"""
  }

  def oracleSql: Map[String, String] = Map(
    "e01_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, e.vec_id,
           list_dot_product(e.v, q.qv) / (e.nrm * q.qn) AS sim
           FROM e JOIN q ON e.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    // mirrors knnMatryoshka stage for stage: prefix-dim shortlist of
    // 50 by truncated cosine (ties: vec_id asc), exact full-dim rerank
    "e12_knn_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm,
           list_transform(embedding[1:16], x -> x::DOUBLE) AS vt
           FROM embeddings),
         e2 AS (SELECT vec_id, v, nrm, vt,
           sqrt(list_dot_product(vt, vt)) AS nt FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, vt AS qvt, nt AS qnt
           FROM e2 WHERE vec_id < $NQ),
         t AS (SELECT q.qid, e2.vec_id, e2.v, e2.nrm, q.qv, q.qn,
             list_dot_product(e2.vt, q.qvt) / (e2.nt * q.qnt) AS tsim
           FROM e2 JOIN q ON e2.vec_id <> q.qid),
         sl AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY tsim DESC, vec_id ASC) AS srank FROM t),
         rr AS (SELECT qid, vec_id,
             list_dot_product(v, qv) / (nrm * qn) AS sim
           FROM sl WHERE srank <= 50),
         ranked AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, vec_id ASC) AS rank FROM rr)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked
         WHERE rank <= $K""",
    // e14: the e12 shape with the corpus/query SPLIT — the store side
    // holds only vec_id >= NQ (the engine's persisted prefix-column
    // table), the query side the held-out first NQ, sliced to the
    // same 16-dim prefix in both engines
    "e14_knn_store_external" -> storeExternalOracleSql(),
    // w15 serves the STREAMED store (built half one-shot, half by
    // deliveries with a replay and a mid-stream compact); it must
    // equal the one-shot e14 store exactly — same oracle
    "w15_store_stream_append" -> storeExternalOracleSql(),
    // e19: the e14 serving oracle minus the deleted slice — deletes
    // excluded from the store BEFORE the shortlist ranks, so live
    // next-best candidates refill it (both engines)
    "e19_knn_store_delete" ->
      storeExternalOracleSql(stFilter = " AND vec_id % 7 <> 3"),
    "e02_knn_ivf" ->
      s"""WITH $ivfAssignCtes,
         q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nrm AS qn
           FROM assigned WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, a.vec_id,
           list_dot_product(a.v, q.qv) / (a.nrm * q.qn) AS sim
           FROM assigned a JOIN q ON a.cid = q.qcid AND a.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    // w07 probes the STREAMED index; it must equal the one-shot e02
    // assignment probe exactly — same oracle
    "w07_ivf_stream_append" ->
      s"""WITH $ivfAssignCtes,
         q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nrm AS qn
           FROM assigned WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, a.vec_id,
           list_dot_product(a.v, q.qv) / (a.nrm * q.qn) AS sim
           FROM assigned a JOIN q ON a.cid = q.qcid AND a.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    // e13: the e02 shape with the corpus/query SPLIT — the index side
    // holds only vec_id >= NQ (the engine's persisted table), the
    // query side the held-out first NQ, assigned against the same
    // codebook (centroidsSql samples the full embeddings table in
    // both engines — the codebook is configuration, not membership)
    "e13_knn_ivf_external" -> ivfExternalOracleSql(),
    // e18: the e13 serving oracle minus the deleted slice — deletes
    // excluded from the index BEFORE ranking (both engines), so live
    // next-best candidates refill the top-k
    "e18_knn_ivf_delete" ->
      ivfExternalOracleSql(idxFilter = " AND vec_id % 7 <> 3"),
    "e03_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         bucketed AS (SELECT vec_id, ${lshBucketSql("v")} AS cid, v, nrm FROM e),
         q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nrm AS qn
           FROM bucketed WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, b.vec_id,
           list_dot_product(b.v, q.qv) / (b.nrm * q.qn) AS sim
           FROM bucketed b JOIN q ON b.cid = q.qcid AND b.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    "e04_knn_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         bucketed AS (SELECT vec_id, ${lshBucketSql("v")} AS cid, v, nrm FROM e),
         q AS (SELECT vec_id AS qid, cid, v AS qv, nrm AS qn
           FROM bucketed WHERE vec_id < $NQ),
         probes AS (SELECT qid, qv, qn,
           unnest(list_prepend(cid, list_transform(generate_series(1, $NPlanes),
             i -> substr(cid, 1, i - 1)
               || (CASE WHEN substr(cid, i, 1) = '1' THEN '0' ELSE '1' END)
               || substr(cid, i + 1)))) AS qcid
           FROM q),
         sims AS (SELECT p.qid, b.vec_id,
           list_dot_product(b.v, p.qv) / (b.nrm * p.qn) AS sim
           FROM bucketed b JOIN probes p ON b.cid = p.qcid AND b.vec_id <> p.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    "e05_knn_pq" ->
      s"""WITH $pqAdcCtes
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    // e10: the e08 Lloyd CTEs verbatim (training replayed exactly),
    // then the e02 probe pattern over the FINAL assignment.
    "e10_knn_ivf_trained" ->
      s"""WITH $kmeansCtes,
         fa AS (SELECT vec_id, ci, v, nrm FROM a${KmIters + 1}),
         q AS (SELECT vec_id AS qid, ci AS qci, v AS qv, nrm AS qn
           FROM fa WHERE vec_id < $NQ),
         sims AS (SELECT q.qid, fa.vec_id,
           list_dot_product(fa.v, q.qv) / (fa.nrm * q.qn) AS sim
           FROM fa JOIN q ON fa.ci = q.qci AND fa.vec_id <> q.qid),
         ranked AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         SELECT qid, vec_id AS neighbor_id, rank FROM ranked WHERE rank <= $K""",
    // e11: e02's assignment CTEs, then per-query centroid ranking
    // (psim DESC, cid ASC) keeps the top $IvfProbes buckets as probes.
    "e11_knn_ivf_multiprobe" -> ivfMultiProbeOracleSql(idxFilter = ""),
    // e16: the e11 pipeline with the corpus/query SPLIT — candidates
    // come only from the persisted index (vec_id >= NQ); the held-out
    // queries rank the shared codebook for their probe buckets
    "e16_knn_ivf_ext_multiprobe" ->
      ivfMultiProbeOracleSql(idxFilter = s"AND a.vec_id >= $NQ"),
    // w16 serves the STREAMED PQ index (built half one-shot, half by
    // deliveries encoded with the persisted codebooks, with a replay
    // and a mid-stream compact); it must equal the one-shot e15 index
    // exactly — same oracle
    "w16_pq_stream_append" ->
      ivfPqOracleSql(idxFilter = s"AND cd.vec_id >= $NQ"),
    "e07_knn_refine" ->
      s"""WITH $pqAdcCtes,
         cands AS (SELECT qid, vec_id FROM ranked WHERE rank <= $Shortlist),
         exact AS (SELECT cn.qid, cn.vec_id,
           list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS xsim
           FROM cands cn JOIN e b ON b.vec_id = cn.vec_id
           JOIN e q ON q.vec_id = cn.qid),
         rer AS (SELECT qid, vec_id, row_number()
           OVER (PARTITION BY qid ORDER BY xsim DESC, vec_id ASC) AS rank FROM exact)
         SELECT qid, vec_id AS neighbor_id, rank FROM rer WHERE rank <= $K""",
    "e06_knn_ivfpq" -> ivfPqOracleSql(idxFilter = ""),
    // e15: the e06 pipeline with the corpus/query SPLIT — the codes
    // side holds only vec_id >= NQ (the engine's persisted serving
    // index), the query side the held-out first NQ; codebooks (PQ and
    // centroid) sample the full table in both engines — configuration,
    // not membership (the e13 convention)
    "e15_knn_pq_external" ->
      ivfPqOracleSql(idxFilter = s"AND cd.vec_id >= $NQ"),
    // e17: the e15 serving oracle with the e11/e16 probe fan-out —
    // each query's top-$IvfProbes centroid buckets admit candidates
    "e17_knn_pq_ext_multiprobe" ->
      ivfPqOracleSql(idxFilter = s"AND cd.vec_id >= $NQ",
        probes = IvfProbes),
    // e20: the e15 serving oracle minus the deleted slice — deletes
    // excluded from the codes BEFORE the ADC ranking (both engines)
    "e20_knn_pq_delete" ->
      ivfPqOracleSql(
        idxFilter = s"AND cd.vec_id >= $NQ AND cd.vec_id % 7 <> 3"),
    "d09_embed_neardup" ->
      s"""WITH $ivfAssignCtes
         SELECT a.vec_id AS a_id, b.vec_id AS b_id
         FROM assigned a JOIN assigned b
           ON a.cid = b.cid AND a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4""",
    "d30_semantic_dedup" ->
      s"""WITH RECURSIVE $ivfAssignCtes,
         cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
           FROM assigned a JOIN assigned b
             ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.4),
         edges AS (SELECT a_id AS x, b_id AS y FROM cand
           UNION SELECT b_id, a_id FROM cand),
         reach(id, lbl) AS (
           SELECT DISTINCT x, x FROM edges
           UNION
           SELECT e2.x, r.lbl FROM edges e2 JOIN reach r ON e2.y = r.id),
         grp AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id),
         dropped AS (SELECT id FROM grp WHERE id <> group_id)
         SELECT vec_id, cid FROM assigned
         WHERE vec_id NOT IN (SELECT id FROM dropped)""",
    "e08_kmeans_fit" -> kmeansOracleSql,
    "e09_random_projection" -> {
      // shared plane literals; (dot / sqrt)::FLOAT::DOUBLE * 1e6 then
      // round mirrors the engine's op order exactly, including the
      // float cast the operator applies to each component
      val planes = Similarity.hyperplaneWeights(RpDim, Dim).map(planeSqlLiteral)
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings)
         SELECT vec_id, ${(0 until RpDim).map(j =>
           s"round((list_dot_product(v, ${planes(j)}) / sqrt($RpDim.0))::FLOAT::DOUBLE * 1000000)::BIGINT" +
             f" AS p${j + 1}%02d").mkString(", ")}
         FROM e"""
    }
  )

  /** The k-means oracle, Lloyd rounds unrolled verbatim: seeding is the
    * engine's (md5(id), id) hash order over the same drop-contract
    * corpus; assignment is the proven e02 row_number-over-cosine mirror
    * of graft_argmax_cos; the mean update sums round(v*1000) BIGINTs
    * (exact, order-free, identical to the engine's quantized
    * accumulators) and derives each centroid dimension by one double
    * division cast through FLOAT — the same IEEE op sequence the engine
    * performs, so every intermediate centroid is bit-identical and the
    * final assignment cannot drift. Empty clusters keep the previous
    * centroid (the LEFT JOIN + CASE). */
  private def kmeansOracleSql: String =
    s"""WITH $kmeansCtes
         SELECT a.vec_id, a.ci AS cid, s.cluster_size
         FROM a${KmIters + 1} a JOIN (SELECT ci, count(*) AS cluster_size
           FROM a${KmIters + 1} GROUP BY 1) s ON a.ci = s.ci"""

  /** The Lloyd-round CTE chain shared by the e08 oracle and the e10
    * trained-IVF probe oracle: ends at `a${KmIters + 1}`, the final
    * (vec_id, ci, v, nrm) assignment under the trained centroids. */
  private def kmeansCtes: String = {
    val dimSums = (1 to Dim)
      .map(dd => s"sum(round(v[$dd] * $KmScale)::BIGINT) AS s$dd")
      .mkString(", ")
    def assignCte(name: String, cSrc: String) =
      s"""$name AS (SELECT vec_id, ci, v, nrm FROM (
         SELECT e.vec_id, c.ci, e.v, e.nrm, row_number()
           OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
                          c.ci ASC) AS rn
         FROM e CROSS JOIN $cSrc c) WHERE rn = 1)"""
    val rounds = (1 to KmIters).map { i =>
      val newCv = "[" + (1 to Dim)
        .map(dd => s"(u$i.s$dd / ($KmScale.0 * u$i.cnt))::FLOAT::DOUBLE")
        .mkString(", ") + "]"
      s"""u$i AS (SELECT ci, count(*) AS cnt, $dimSums FROM a$i GROUP BY ci),
         c$i AS (SELECT cp.ci,
           CASE WHEN u$i.cnt IS NULL THEN cp.cv ELSE $newCv END AS cv
           FROM c${i - 1} cp LEFT JOIN u$i ON cp.ci = u$i.ci),
         n$i AS (SELECT ci, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c$i),
         ${assignCte(s"a${i + 1}", s"n$i")}"""
    }.mkString(",\n         ")
    s"""e0 AS (SELECT vec_id, $vSql AS v,
           sqrt(list_dot_product($vSql, $vSql)) AS nrm FROM embeddings),
         -- the engine's drop contract (kmeansSeeds + the argmax null
         -- semantics): only null-free vectors of length Dim ever seed,
         -- assign, or update — mirrored here so a dirty corpus cannot
         -- silently diverge the two engines
         e AS (SELECT vec_id, v, nrm FROM e0 WHERE len(v) = $Dim
           AND len(list_filter(v, x -> x IS NULL)) = 0),
         c0 AS (SELECT row_number()
             OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS ci, v AS cv
           FROM (SELECT vec_id, v FROM e
             ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $KmK)),
         n0 AS (SELECT ci, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c0),
         ${assignCte("a1", "n0")},
         $rounds"""
  }
}
