package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Tables

/** Similarity-search invariants on the fixture embeddings, including
  * the persisted bucketed IVF index (probe == in-memory IVF).
  */
class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val base = Similarity.withNorm(Tables.embeddings(spark, sf), "vec_id", "embedding")
  private lazy val assigned =
    Similarity.assignToCentroids(base, base.filter(col("vec_id") % 50 === 0), "vec_id")

  test("knnBrute returns k ranked neighbors per query, self excluded") {
    val out = Similarity.knnBrute(base, base.filter(col("vec_id") < 5), "vec_id", 4)
    assert(out.count() === 5 * 4)
    assert(out.filter(col("qid") === col("neighbor_id")).count() === 0)
    assert(out.groupBy("qid").agg(max("rank")).collect().forall(_.getInt(1) === 4))
  }

  test("every vector lands in exactly one centroid bucket") {
    assert(assigned.count() === base.count())
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
  }

  test("randomProject maps basis vectors to the signed plane weights") {
    import spark.implicits._
    // e_i . w_j = w_j[i] exactly, so projecting the standard basis
    // recovers hyperplaneWeights / sqrt(outDim) with no float slack
    val dim = 8
    val outDim = 4
    val basis = (0 until dim).map(i =>
      (i.toLong, Seq.tabulate(dim)(d => if (d == i) 1.0f else 0.0f)))
    val rp = Similarity.randomProject(
      Similarity.withNorm(basis.toDF("vec_id", "embedding"), "vec_id", "embedding"),
      "vec_id", outDim, dim)
    val got = rp.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val w = Similarity.hyperplaneWeights(outDim, dim)
    val s = math.sqrt(outDim.toDouble)
    for (i <- 0 until dim; j <- 0 until outDim)
      assert(got(i.toLong)(j) === (w(j)(i).toDouble / s).toFloat,
        s"basis $i plane $j")
    // float output composes straight back into the ANN stack
    val reNormed = Similarity.withNorm(
      rp.withColumnRenamed("rp", "embedding"), "vec_id", "embedding")
    assert(reNormed.count() === dim)
    // a dim-mismatched vector fails the job loudly, not null-silently
    val ex = intercept[Exception] {
      Similarity.randomProject(Similarity.withNorm(
          Seq((9L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding"),
        "vec_id", outDim, dim).collect()
    }
    assert(ex.getMessage.contains("does not match dim") ||
      Option(ex.getCause).exists(_.getMessage.contains("does not match dim")))
    intercept[IllegalArgumentException] {
      Similarity.randomProject(rp, "vec_id", outDim = 0, dim = 8)
    }
  }

  test("randomProject stays in whole-stage codegen at realistic dims (768->64)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // the scale-out concern: 64 dot folds against 768-float literal
    // planes. Array literals ride the generated code as REFERENCES
    // (not per-element source), so the method should stay small — this
    // spec proves it by compiling the actual generated code and
    // checking the max method bytecode against the fallback threshold
    // Spark itself uses (hugeMethodLimit; exceeding it silently
    // interprets the projection — the r5 PQ lesson, SCALING.md)
    val dim = 768
    val outDim = 64
    val rows = (0L until 4L).map(i =>
      (i, Seq.tabulate(dim)(d => (((i * 31 + d) % 17).toInt - 8) / 8.0f)))
    // through parquet: a LocalRelation would be constant-folded on the
    // driver (ConvertToLocalRelation) and leave no codegen stage to prove
    val dir = graft.TestScratch.dir("graft-rp768")
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val base = Similarity.withNorm(
      spark.read.parquet(dir), "vec_id", "embedding")
    val t0 = System.nanoTime()
    val rp = Similarity.randomProject(base, "vec_id", outDim, dim)
    val plan = rp.queryExecution.executedPlan
    val planMs = (System.nanoTime() - t0) / 1e6
    info(f"plan build at 768->64: $planMs%.0f ms")
    assert(planMs < 30000, "plan build must not blow up at realistic dims")
    // the projection must sit INSIDE a whole-stage codegen region...
    val stages = graft.plans.PlanWalk.flatten(plan).collect {
      case w: WholeStageCodegenExec => w }
    val rpStages = stages.filter(w => graft.plans.PlanWalk.flatten(w)
      .exists(_.output.exists(_.name == "rp")))
    assert(rpStages.nonEmpty, s"no codegen stage produces rp:\n$plan")
    // ...and its generated code must compile under the huge-method
    // limit, or Spark executes it interpreted at runtime
    val limit = spark.sessionState.conf.hugeMethodLimit
    for (w <- rpStages) {
      val (_, source) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(source)
      info(s"max generated method: ${stats.maxMethodCodeSize} bytes (limit $limit)")
      assert(stats.maxMethodCodeSize <= limit,
        s"generated method ${stats.maxMethodCodeSize} bytes exceeds " +
          s"hugeMethodLimit $limit — the projection would silently fall " +
          "out of codegen")
    }
    // values at full width match a driver-side replay of the same fold
    val w64 = Similarity.hyperplaneWeights(outDim, dim)
    val s = math.sqrt(outDim.toDouble)
    val got = rp.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((id, v) <- rows; j <- 0 until outDim) {
      val exp = (v.zip(w64(j)).foldLeft(0.0) {
        case (a, (x, y)) => a + x.toDouble * y.toDouble } / s).toFloat
      assert(got(id)(j) === exp, s"row $id component $j")
    }
  }

  test("graft_matvec rejects null planes with a clear error, not an NPE") {
    graft.functions.GraftFunctions.register(spark)
    def messageOf(sql: String): String = {
      val e = intercept[Throwable] { spark.sql(sql).collect() }
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    assert(messageOf("SELECT graft_matvec(array(float(1.0)), " +
        "CAST(NULL AS ARRAY<ARRAY<FLOAT>>), 8.0D)")
      .contains("planes literal must not be null"))
    assert(messageOf("SELECT graft_matvec(array(float(1.0)), " +
        "array(CAST(NULL AS ARRAY<FLOAT>)), 8.0D)")
      .contains("plane 0 is null"))
    assert(messageOf("SELECT graft_matvec(array(float(1.0)), " +
        "array(array(CAST(NULL AS FLOAT))), 8.0D)")
      .contains("plane 0 element 0 is null"))
    // a null VECTOR element is data, not configuration: row nulls out
    val row = spark.sql("SELECT graft_matvec(array(float(1.0), " +
      "CAST(NULL AS FLOAT)), array(array(float(1.0), float(1.0))), 1.0D) AS rp")
      .collect()
    assert(row.length == 1 && row(0).isNullAt(0))
  }

  test("ANN recall floors: shipped configs and shortlist convergence") {
    // Approximation QUALITY, not determinism (the oracles replay the
    // approximation, so they can never catch a silently-worse blocking
    // or codebook change). Corpus, seeds, and hashes are all
    // deterministic, so recall is an exact number — floors sit just
    // below the values measured in r11 (RecallSweep; table in
    // SCALING.md "ANN recall"). Fixture embeddings are isotropic noise
    // (within-label cosine == across-label == 0), the ANN worst case:
    // recall tracks the scanned-candidate fraction, so absolute values
    // are low by construction and the floors guard the MECHANISM, not
    // a production operating point.
    val k5 = 5
    val q10 = col("vec_id") < 10
    val truth = Similarity.knnBrute(base, base.filter(q10), "vec_id", k5)
      .cache()
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      graft.RecallSweep.recallAt(truth, ann, k5)

    // e02: IVF, id-sampled centroids (measured 0.240)
    val cents = base.filter(col("vec_id") % 50 === 0)
      .orderBy("vec_id").limit(20)
    val ivfAssigned = Similarity.assignToCentroids(base, cents, "vec_id")
    assert(recall(Similarity.knnIvf(ivfAssigned, q10, "vec_id", k5)) >= 0.20)

    // e04: 6-plane sign-LSH with Hamming-1 probes (measured 0.300)
    val bucketed = Similarity.assignLshBuckets(
      base, "vec_id", Similarity.hyperplaneWeights(6, 64))
    assert(recall(Similarity.knnLshMultiProbe(
      bucketed, q10, "vec_id", k5, 6)) >= 0.25)

    // e07: ADC shortlist 25 -> exact re-rank, K=16 codebook (measured 0.460)
    val cb16 = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    assert(recall(Similarity.knnPqRefine(
      Similarity.pqEncode(base, "vec_id", cb16), base, base.filter(q10),
      "vec_id", cb16, shortlist = 25, k = k5)) >= 0.40)

    // e12: matryoshka 16-of-64 prefix, shortlist 50 (measured 0.540 —
    // far above the 10% scanned fraction because the prefix dot is a
    // correlated estimate of the full dot, even on isotropic noise)
    assert(recall(Similarity.knnMatryoshka(
      base, q10, "vec_id", k5, prefixDims = 16, shortlist = 50)) >= 0.45)
    // e12 convergence: shortlist >= corpus makes the exact rerank
    // degenerate to brute force — recall must be EXACTLY 1.0, the
    // structural proof that stage 2 reranks with true full-dim cosine
    assert(recall(Similarity.knnMatryoshka(
      base, q10, "vec_id", k5, prefixDims = 16, shortlist = 600)) == 1.0)

    // convergence: a richer codebook + deeper shortlist must approach
    // brute force even on noise (measured 1.000 at K=64, shortlist=200
    // — the shortlist covers 40% of this corpus). THE structural
    // floor: if blocking, encode, ADC, or re-rank break, this drops
    val cb64 = Similarity.pqTrainSampled(base, "vec_id", m = 8,
      maxCodewords = 64)
    assert(recall(Similarity.knnPqRefine(
      Similarity.pqEncode(base, "vec_id", cb64), base, base.filter(q10),
      "vec_id", cb64, shortlist = 200, k = k5)) >= 0.95)
  }

  test("Matryoshka store: persisted prefix columns, pruned stage-1 scan, lazy-equal results") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.mrl_store"
    Similarity.buildVectorStore(base, "vec_id", tbl, buckets = 4,
      prefixDims = 16)
    // the layout: prefix slice + its norm persist as their own columns
    val store = spark.table(tbl)
    assert(store.columns.toSet == Set("vec_id", "v", "nrm", "vt", "nt"))
    // stage-1 plan pin: the store scan reads (vec_id, vt, nt) ONLY —
    // prefixDims floats per row, never the full vector column
    val q = store.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qn"),
      col("vt").as("qvt"), col("nt").as("qnt"))
    val stage1 = Similarity.matryoshkaShortlistFrame(store, q, "vec_id", 50)
    stage1.collect()
    val scans = graft.plans.PlanWalk.flatten(stage1.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet }
    val corpusScan = scans.find(_.contains("vt")).get
    assert(!corpusScan.contains("v"),
      s"stage-1 scan reads the full vector column: $corpusScan")
    // results are row-identical to the lazy same-frame form
    val lazyRes = Similarity.knnMatryoshka(base, col("vec_id") < 10,
        "vec_id", 5, prefixDims = 16, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val idxRes = Similarity.knnMatryoshkaIndexed(spark, tbl,
        col("vec_id") < 10, "vec_id", 5, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(idxRes === lazyRes)
    assert(idxRes.nonEmpty)
    // the rerank fetch is bucket-pruned point lookups, the e07 shape
    val rerank = Similarity.knnMatryoshkaIndexed(spark, tbl,
      col("vec_id") < 10, "vec_id", 5, shortlist = 50)
    assert(rerank.queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount"), "rerank fetch not bucket-pruned")
    // shortlist > maxCandidates must fail with the actionable message,
    // not DriverBounded's internal cap error (the knnPqRefineIndexed
    // guard, mirrored)
    val e = intercept[IllegalArgumentException] {
      Similarity.knnMatryoshkaIndexed(spark, tbl, col("vec_id") < 10,
        "vec_id", 5, shortlist = 50, maxCandidates = 10)
    }
    assert(e.getMessage.contains("even one query"), e.getMessage)
  }

  test("ANN recall floors on a CLUSTERED corpus: blocking must beat the scanned fraction") {
    // The isotropic-noise floors above guard mechanism, but on noise
    // recall ≈ scanned fraction REGARDLESS of blocking quality — a
    // silently-broken bucketing could hide there (r11 advice). On
    // Gaussian blobs true neighbors share a blob, so working blocking
    // concentrates them: these floors sit far above any scanned
    // fraction and collapse if bucketing, training, or the probe path
    // break. Parameters are shared with RecallSweep's clustered
    // section (measured r12: e02 .480, e04 .800, e07 .920, e10 1.000,
    // e11 .840 — floors just below).
    import graft.RecallSweep
    val cbase = Similarity.withNorm(RecallSweep.clusteredCorpus(spark,
      RecallSweep.ClusteredN, RecallSweep.ClusteredDim,
      RecallSweep.ClusteredBlobs, RecallSweep.ClusteredSigma,
      RecallSweep.ClusteredSeed), "vec_id", "embedding").cache()
    val k5 = 5
    val q10 = col("vec_id") < 10
    val truth = Similarity.knnBrute(cbase, cbase.filter(q10), "vec_id", k5)
      .cache()
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      graft.RecallSweep.recallAt(truth, ann, k5)

    // e02 shape: id-sampled centroids (the sampling only hits 2 of the
    // 20 blobs — a real pathology of naive sampling, which is exactly
    // why the floor is mid-range and e10's trained floor is ~1.0)
    val cents = cbase.filter(col("vec_id") % 50 === 0)
      .orderBy("vec_id").limit(20)
    val ivfAssigned = Similarity.assignToCentroids(cbase, cents, "vec_id")
    assert(recall(Similarity.knnIvf(ivfAssigned, q10, "vec_id", k5)) >= 0.40)

    // e04 shape: 6-plane sign-LSH + Hamming-1 probes (measured .800)
    val bucketed = Similarity.assignLshBuckets(
      cbase, "vec_id", Similarity.hyperplaneWeights(6, RecallSweep.ClusteredDim))
    assert(recall(Similarity.knnLshMultiProbe(
      bucketed, q10, "vec_id", k5, 6)) >= 0.70)

    // e07 shape: ADC shortlist 25 → exact re-rank (measured .920)
    val cb16 = Similarity.pqTrainSampled(
      cbase.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    assert(recall(Similarity.knnPqRefine(
      Similarity.pqEncode(cbase, "vec_id", cb16), cbase, cbase.filter(q10),
      "vec_id", cb16, shortlist = 25, k = k5)) >= 0.85)

    // e10 shape: k-means-trained IVF, k == blob count — training must
    // RECOVER the generative structure (measured 1.000)
    val model = Similarity.kmeansFit(cbase, "vec_id",
      k = RecallSweep.ClusteredBlobs, iters = 5,
      dim = RecallSweep.ClusteredDim)
    assert(recall(Similarity.knnIvf(model.assignment, q10, "vec_id", k5)) >= 0.95)

    // e11 shape: 3-probe IVF over the sampled centroids (measured .840)
    assert(recall(Similarity.knnIvfMultiProbe(
      ivfAssigned, cents, q10, "vec_id", k5, 3)) >= 0.75)
  }

  test("assignToCentroids replicates window ordering: ties and NaN") {
    import spark.implicits._
    // centroid 10 and 20 are IDENTICAL: every vector ties exactly, and
    // the window form's (csim DESC, cid ASC) row_number keeps the
    // lowest id — the argmax fold must too
    def frame(rows: Seq[(Long, Seq[Float])]) = Similarity.withNorm(
      rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val vecs = frame(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))))
    val cents = frame(Seq(
      (10L, Seq(1f, 0f)), (20L, Seq(1f, 0f)), (30L, Seq(0f, 1f))))
    val out = Similarity.assignToCentroids(vecs, cents, "vec_id")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(out(1L) === 10L, "exact tie must keep the lowest centroid id")
    assert(out(2L) === 30L)
    // a zero-norm query vector makes every cosine NaN; Spark's double
    // ordering treats NaN as greatest and equal to itself, so the
    // window form kept the lowest id — the fold must match
    val zero = frame(Seq((9L, Seq(0f, 0f))))
    val outZ = Similarity.assignToCentroids(zero, cents, "vec_id")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(outZ(9L) === 10L, "all-NaN similarities must keep the lowest id")
    // oversized centroid sets are configuration errors, not data
    val e = intercept[IllegalArgumentException] {
      Similarity.assignToCentroids(vecs, cents, "vec_id", maxCentroids = 2)
    }
    assert(e.getMessage.contains("maxCentroids"))
  }

  test("sign-LSH bucketing: deterministic, exhaustive, probe-compatible") {
    val weights = Similarity.hyperplaneWeights(6, 64)
    assert(weights.map(_.toSeq) ===
      Similarity.hyperplaneWeights(6, 64).map(_.toSeq)) // pure derivation
    val bucketed = Similarity.assignLshBuckets(base, "vec_id", weights)
    assert(bucketed.count() === base.count())
    // buckets actually split the corpus (not all vectors in one bucket)
    assert(bucketed.select("cid").distinct().count() > 1)
    val out = Similarity.knnIvf(bucketed, col("vec_id") < 5, "vec_id", 3)
    assert(out.filter(col("qid") === col("neighbor_id")).count() === 0)
    assert(out.groupBy("qid").agg(max("rank")).collect().forall(_.getInt(1) <= 3))
  }

  test("multi-probe fills top-k where a single bucket runs short") {
    val weights = Similarity.hyperplaneWeights(6, 64)
    val bucketed = Similarity.assignLshBuckets(base, "vec_id", weights)
    val k = 5
    val single = Similarity.knnIvf(bucketed, col("vec_id") < 10, "vec_id", k)
    val multi = Similarity.knnLshMultiProbe(bucketed, col("vec_id") < 10, "vec_id", k, 6)
    assert(multi.count() === 10L * k, "every query must fill its full top-k")
    assert(multi.count() >= single.count())
    // a probed candidate set is a superset per query, so ranks 1..k exist
    assert(multi.groupBy("qid").agg(max("rank")).collect().forall(_.getInt(1) === k))

    val ivfMulti = Similarity.knnIvfMultiProbe(assigned,
      base.filter(col("vec_id") % 50 === 0), col("vec_id") < 10, "vec_id", k, probes = 2)
    assert(ivfMulti.count() === 10L * k)
    assert(ivfMulti.filter(col("qid") === col("neighbor_id")).count() === 0)
  }

  test("PQ encode/ADC: codes in range, full top-k, self excluded") {
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8)
    assert(cb.length === 8)
    val kWords = cb.head.length
    val encoded = Similarity.pqEncode(base, "vec_id", cb)
    val codes = encoded.select(explode(col("pq_code")).as("c"))
    assert(codes.filter(col("c") < 0 || col("c") >= kWords).count() === 0)
    val out = Similarity.knnPq(encoded, base.filter(col("vec_id") < 5), "vec_id", cb, 4)
    assert(out.count() === 5 * 4)
    assert(out.filter(col("qid") === col("neighbor_id")).count() === 0)
  }

  test("knnPqRefineIndexed fails fast past the candidate bound") {
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8, maxCodewords = 16)
    val encoded = Similarity.pqEncode(base, "vec_id", cb)
    // 5 queries x 30 shortlist = 150 candidate rows > 100 cap: the
    // driver-side collect + In-literal plan must be refused with a
    // message, not attempted
    val e = intercept[IllegalArgumentException] {
      Similarity.knnPqRefineIndexed("unused.store", encoded,
        base.filter(col("vec_id") < 5), "vec_id", cb,
        shortlist = 30, k = 5, maxCandidates = 100)
    }
    assert(e.getMessage.contains("maxCandidates"))
    assert(e.getMessage.contains("knnPqRefine"))
  }

  test("index rebuild never deletes an external table's data") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_ext")
    val extDir = graft.TestScratch.dir("graft-ext")
    base.limit(3).write.mode("overwrite").parquet(extDir)
    spark.sql("DROP TABLE IF EXISTS sim_ext.store")
    spark.sql(s"CREATE TABLE sim_ext.store USING parquet LOCATION '$extDir'")
    // rebuilding an index under a name that currently belongs to an
    // EXTERNAL table must drop the catalog entry only — the location
    // holds data the warehouse does not own
    Similarity.buildVectorStore(base, "vec_id", "sim_ext.store", buckets = 2)
    assert(spark.read.parquet(extDir).count() === 3,
      "external table data was deleted by the rebuild")
    assert(spark.table("sim_ext.store").count() === base.count())
  }

  test("persisted IVF index probes equal in-memory IVF results") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    Similarity.buildIvfIndex(assigned, "sim_idx.ivf_embeddings", buckets = 4)
    val inMem = Similarity.knnIvf(assigned, col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probed = Similarity.probeIvfIndex(spark, "sim_idx.ivf_embeddings",
        col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probed === inMem)
    assert(probed.nonEmpty)
  }

  test("incremental IVF append: batches extend the index, replays are no-ops") {
    // the streaming-maintenance contract: an index built on a corpus
    // PREFIX, extended by micro-batches of the remainder, must probe
    // identically to an index built on the full corpus in one shot —
    // and a replayed batch (at-least-once delivery) must change nothing
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_incremental"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val prefix = base.filter(col("vec_id") < 300)
    val batch1 = base.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = base.filter(col("vec_id") >= 400)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(prefix, cents, "vec_id"), tbl, buckets = 4)
    // a bucket count other than the table's refuses with direction
    // before anything is written (no rows, no codebook stamp)
    val eb = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(batch1, tbl, cents, "vec_id", buckets = 8)
    }
    assert(eb.getMessage.contains("buckets = 8") &&
      eb.getMessage.contains("4 buckets"), eb.getMessage)
    assert(spark.table(tbl).count() === prefix.count())
    assert(BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp)
      .isEmpty)
    Similarity.appendToIvfIndex(batch1, tbl, cents, "vec_id", buckets = 4)
    Similarity.appendToIvfIndex(batch2, tbl, cents, "vec_id", buckets = 4)
    val full = spark.table(tbl).count()
    assert(full === base.count())
    // replay both batches: the (cid, id) anti-join absorbs them
    Similarity.appendToIvfIndex(batch1, tbl, cents, "vec_id", buckets = 4)
    Similarity.appendToIvfIndex(batch2, tbl, cents, "vec_id", buckets = 4)
    assert(spark.table(tbl).count() === full)
    // probes equal the one-shot full-corpus assignment
    val oneShot = Similarity.knnIvf(
        Similarity.assignToCentroids(base, cents, "vec_id"),
        col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probed = Similarity.probeIvfIndex(spark, tbl,
        col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probed === oneShot)
    assert(probed.nonEmpty)
  }

  test("probeIvfIndexExternal: id-invariant serving probes; self-exclusion only on id collision") {
    // the serving path: vectors from OUTSIDE the corpus probe the
    // persisted index (value equality vs DuckDB is the e13 gate; this
    // pins the API contract the gate cannot see)
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_external"
    val cents = base.filter(col("vec_id") % 50 === 0)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 10), cents,
        "vec_id"), tbl, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    val got = Similarity.probeIvfIndexExternal(spark, tbl, heldOut, cents,
        "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(q >= 0L && q < 10L)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        s"query $q: ranks must be contiguous from 1")
      assert(rs.forall(_._2 >= 10L),
        s"query $q: neighbors must come from the index, not the queries")
    }
    // id-invariance: the same vectors under shifted external ids must
    // return the same neighbor sets — the probe serves VECTORS, ids
    // are just labels (no accidental coupling to the corpus id space)
    val shifted = heldOut.withColumn("vec_id", col("vec_id") + 100000L)
    val got2 = Similarity.probeIvfIndexExternal(spark, tbl, shifted, cents,
        "vec_id", 3)
      .collect().map(r => (r.getLong(0) - 100000L, r.getLong(1), r.getInt(2)))
      .toSet
    assert(got2 == got.toSet, "shifting external ids changed results")
    // re-sending a KNOWN corpus vector: with its corpus id the index
    // copy is excluded (true neighbors, not itself); with a fresh id
    // its own copy returns at rank 1 (cosine 1 beats everything)
    val known = base.filter(col("vec_id") === 42)
    val ownId = Similarity.probeIvfIndexExternal(spark, tbl, known, cents,
        "vec_id", 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(!ownId.map(_._1).contains(42L),
      "a query re-sent under its corpus id must not return itself")
    val freshId = Similarity.probeIvfIndexExternal(spark, tbl,
        known.withColumn("vec_id", lit(999999L)), cents, "vec_id", 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(freshId.find(_._2 == 1).map(_._1).contains(42L),
      s"an external copy of corpus vector 42 must rank it first, got " +
        freshId.mkString(","))
    // a wrong-width serving query refuses loudly instead of returning
    // all-null-similarity garbage (graft_dot nulls mismatched lengths)
    val narrow = heldOut.withColumn("v", slice(col("v"), 1, 8))
    val ed = intercept[IllegalArgumentException] {
      Similarity.probeIvfIndexExternal(spark, tbl, narrow, cents,
        "vec_id", 3)
    }
    assert(ed.getMessage.contains("vector width"), ed.getMessage)
  }

  test("external probe tail: empty batch, null and wrong-width queries, over-cap refusal before any job, local verdicts") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_external_edges"
    val cents = base.filter(col("vec_id") % 50 === 0)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 10), cents,
        "vec_id"), tbl, buckets = 4)
    // a replayed append stamps the codebook, so repeat probes hit the
    // serving-identity cache
    Similarity.appendToIvfIndex(base.filter(col("vec_id") === 10), tbl,
      cents, "vec_id", buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def probe(q: org.apache.spark.sql.DataFrame, maxQueries: Int = 1 << 20) =
      Similarity.probeIvfIndexExternal(spark, tbl, q, cents, "vec_id", 3,
        maxQueries = maxQueries)
    // an empty serving batch: empty verdicts in the verdict schema
    val empty = probe(heldOut.limit(0))
    assert(empty.columns.toSeq === Seq("qid", "neighbor_id", "rank"))
    assert(empty.collect().isEmpty)
    // a null query vector refuses like a wrong-width one
    val nullVec = heldOut.withColumn("v",
      when(col("vec_id") === 3, lit(null)).otherwise(col("v")))
    val en = intercept[IllegalArgumentException](probe(nullVec))
    assert(en.getMessage.contains("vector width"), en.getMessage)
    val ew = intercept[IllegalArgumentException](
      probe(heldOut.withColumn("v", slice(col("v"), 1, 8))))
    assert(ew.getMessage.contains("vector width"), ew.getMessage)
    // over the cap: refused by the serving-batch collect itself — with
    // a local batch and a warm cache, before ANY job runs
    val local = spark.createDataFrame(
      java.util.Arrays.asList(heldOut.collect(): _*), heldOut.schema)
    val served = probe(local)
    val (ec, jobs) = graft.JobLog.record(spark.sparkContext)(
      intercept[IllegalArgumentException](probe(local, maxQueries = 5)))
    assert(ec.getMessage.contains("split the serving batch"), ec.getMessage)
    assert(jobs.isEmpty, s"refusal ran jobs: ${jobs.map(_.site)}")
    // the verdicts are local rows: their plan scans no table, so moving
    // every index file (a compaction) leaves them readable and equal
    assert(served.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.isEmpty, served.queryExecution.executedPlan.toString)
    val rows = served.collect().toSet
    assert(rows.nonEmpty)
    Similarity.compactIvfIndex(spark, tbl)
    assert(served.collect().toSet === rows)
  }

  test("probeVectorStoreExternal: serving probes slice to the store's prefix; refuses a prefixless store") {
    // value equality vs DuckDB is the e14 gate; this pins the API
    // contract: external ids are labels (shift-invariant), a re-sent
    // known vector under a fresh id returns its own copy at rank 1,
    // and the prefix width comes from the STORE (a mismatched
    // prefixDims cannot silently mis-slice the queries)
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.store_external"
    Similarity.buildVectorStore(base.filter(col("vec_id") >= 10),
      "vec_id", tbl, buckets = 4, prefixDims = 16)
    val heldOut = base.filter(col("vec_id") < 10)
    val got = Similarity.probeVectorStoreExternal(spark, tbl, heldOut,
        "vec_id", k = 3, shortlist = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(q >= 0L && q < 10L)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length))
      assert(rs.forall(_._2 >= 10L),
        s"query $q: neighbors must come from the store")
    }
    val shifted = heldOut.withColumn("vec_id", col("vec_id") + 100000L)
    val got2 = Similarity.probeVectorStoreExternal(spark, tbl, shifted,
        "vec_id", k = 3, shortlist = 25)
      .collect().map(r => (r.getLong(0) - 100000L, r.getLong(1), r.getInt(2)))
      .toSet
    assert(got2 == got.toSet, "shifting external ids changed results")
    val known = base.filter(col("vec_id") === 42)
      .withColumn("vec_id", lit(999999L))
    val freshId = Similarity.probeVectorStoreExternal(spark, tbl, known,
        "vec_id", k = 3, shortlist = 25)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(freshId.find(_._2 == 1).map(_._1).contains(42L),
      s"an external copy of store vector 42 must rank it first, got " +
        freshId.mkString(","))
    // a store built WITHOUT prefix columns refuses loudly
    val flat = "sim_idx.store_noprefix"
    Similarity.buildVectorStore(base.filter(col("vec_id") >= 10),
      "vec_id", flat, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Similarity.probeVectorStoreExternal(spark, flat, heldOut,
        "vec_id", k = 3, shortlist = 25)
    }
    assert(e.getMessage.contains("no persisted prefix columns"),
      e.getMessage)
    // a wrong-width serving query refuses loudly instead of returning
    // all-null-similarity garbage (graft_dot nulls mismatched lengths)
    val narrow = heldOut.withColumn("v", slice(col("v"), 1, 8))
    val ed = intercept[IllegalArgumentException] {
      Similarity.probeVectorStoreExternal(spark, tbl, narrow,
        "vec_id", k = 3, shortlist = 25)
    }
    assert(ed.getMessage.contains("vector width"), ed.getMessage)
  }

  test("compactIvfIndex: one file per bucket, row-neutral, probes unchanged, appends absorbed after") {
    // the third grain of the compaction story: append deliveries stack
    // file sets per bucket; the rewrite folds them back, moves no rows,
    // and the (cid, id) idempotence lookups must find pre-compaction
    // rows INSIDE the compacted files (a replay still appends nothing)
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_compact"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val prefix = base.filter(col("vec_id") < 300)
    val batch1 = base.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = base.filter(col("vec_id") >= 400)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(prefix, cents, "vec_id"), tbl, buckets = 4)
    Similarity.appendToIvfIndex(batch1, tbl, cents, "vec_id", buckets = 4)
    Similarity.appendToIvfIndex(batch2, tbl, cents, "vec_id", buckets = 4)
    assert(BucketedStore.fileCount(spark, tbl) > 4,
      "three deliveries should stack file sets")
    val rows = spark.table(tbl).count()
    val before = Similarity.probeIvfIndex(spark, tbl,
        col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Similarity.compactIvfIndex(spark, tbl)
    assert(BucketedStore.fileCount(spark, tbl) <= 4,
      "compaction must leave at most one file per bucket")
    assert(spark.table(tbl).count() === rows,
      "IVF compaction must be row-neutral")
    val after = Similarity.probeIvfIndex(spark, tbl,
        col("vec_id") < 5, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after === before && after.nonEmpty,
      s"probes drifted across compaction")
    // a replay against the COMPACTED table is still absorbed, and a
    // genuinely new append still lands; compaction is idempotent
    Similarity.appendToIvfIndex(batch1, tbl, cents, "vec_id", buckets = 4)
    assert(spark.table(tbl).count() === rows,
      "replayed batch must be absorbed by lookups into compacted files")
    Similarity.compactIvfIndex(spark, tbl)
    assert(BucketedStore.fileCount(spark, tbl) <= 4)
    assert(spark.table(tbl).count() === rows)
  }

  test("vector-store lifecycle: appends extend, replays absorbed, compact keeps sort+stamps, probes equal one-shot") {
    // the fourth persisted-artifact grain's full lifecycle (the r19
    // verdict's lead): a store built on a corpus PREFIX and extended
    // by micro-batches — with a replay and a compaction in between —
    // must serve identically to a one-shot store of the full corpus
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.store_incremental"
    val oneTbl = "sim_idx.store_oneshot"
    val corpus = base.filter(col("vec_id") >= 10)
    Similarity.buildVectorStore(corpus.filter(col("vec_id") < 300),
      "vec_id", tbl, buckets = 4, prefixDims = 16)
    // serving stamps present from build (the property-read assertion)
    assert(BucketedStore.tableProp(spark, tbl, BucketedStore.DimProp)
      .contains("64"))
    assert(BucketedStore.tableProp(spark, tbl, Similarity.PrefixDimsProp)
      .contains("16"))
    val batch1 = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = corpus.filter(col("vec_id") >= 400)
    Similarity.appendToVectorStore(batch1, tbl, "vec_id")
    Similarity.appendToVectorStore(batch2, tbl, "vec_id")
    val full = spark.table(tbl).count()
    assert(full === corpus.count())
    // replay: the In(id) bucket-pruned anti-join absorbs it
    Similarity.appendToVectorStore(batch1, tbl, "vec_id")
    assert(spark.table(tbl).count() === full)
    // the appended rows' prefix columns were recomputed at the STORE's
    // width: every row must satisfy vt = v[1..16]
    val badPrefix = spark.table(tbl)
      .filter(size(col("vt")) =!= 16 ||
        expr("vt != slice(v, 1, 16)") || size(col("v")) =!= 64)
      .count()
    assert(badPrefix === 0L, "appended rows carry mis-sliced prefixes")
    // compact mid-lifecycle: file count bounded, rows unmoved, the
    // SORT spec and graft.* stamps survive the staging swap
    assert(BucketedStore.fileCount(spark, tbl) > 4,
      "three deliveries should stack file sets")
    Similarity.compactVectorStore(spark, tbl, "vec_id")
    assert(BucketedStore.fileCount(spark, tbl) <= 4)
    assert(spark.table(tbl).count() === full)
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tbl)).bucketSpec
    assert(spec.exists(s => s.bucketColumnNames == Seq("vec_id") &&
        s.sortColumnNames == Seq("vec_id")),
      s"compaction dropped the store's bucket/sort spec: $spec")
    assert(BucketedStore.tableProp(spark, tbl, Similarity.PrefixDimsProp)
        .contains("16") &&
      BucketedStore.tableProp(spark, tbl, BucketedStore.DimProp).contains("64"),
      "compaction dropped the serving stamps")
    // a replay against the COMPACTED files is still absorbed
    Similarity.appendToVectorStore(batch2, tbl, "vec_id")
    assert(spark.table(tbl).count() === full)
    // probes equal the one-shot store, by id and externally
    Similarity.buildVectorStore(corpus, "vec_id", oneTbl, buckets = 4,
      prefixDims = 16)
    def probe(t: String) = Similarity.probeVectorStoreExternal(spark, t,
        base.filter(col("vec_id") < 10), "vec_id", k = 3, shortlist = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = probe(tbl)
    assert(streamed === probe(oneTbl) && streamed.nonEmpty,
      "the incrementally-built store must serve exactly like one-shot")
    def byId(t: String) = Similarity.knnMatryoshkaIndexed(spark, t,
        col("vec_id") >= 10 && col("vec_id") < 15, "vec_id", k = 3,
        shortlist = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(byId(tbl) === byId(oneTbl) && byId(tbl).nonEmpty)
    // a wrong-width batch refuses loudly instead of poisoning probes
    val narrow = batch1.withColumn("v", slice(col("v"), 1, 8))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToVectorStore(narrow, tbl, "vec_id")
    }
    assert(e.getMessage.contains("width"), e.getMessage)
  }

  test("an IVF append whose batch keys hash to every bucket passes the pinned lookup") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_every_bucket"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val prefix = base.filter(col("vec_id") < 300)
    val batch = base.filter(col("vec_id") >= 300)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(prefix, cents, "vec_id"), tbl, buckets = 2)
    // precondition: the batch's centroids hash to BOTH buckets (Spark's
    // bucket id is pmod(murmur3(cid), n)), so the pinned idempotence
    // lookup selects every bucket — the pin asserts a bucketed scan
    // ("2 out of 2"), and must not refuse a batch this wide
    assert(Similarity.assignToCentroids(batch, cents, "vec_id")
      .select(pmod(hash(col("cid")), lit(2))).distinct().count() === 2)
    Similarity.appendToIvfIndex(batch, tbl, cents, "vec_id", buckets = 2)
    val n = spark.table(tbl).count()
    assert(n === base.count())
    Similarity.appendToIvfIndex(batch, tbl, cents, "vec_id", buckets = 2)
    assert(spark.table(tbl).count() === n,
      "a replayed batch must be absorbed by the unpruned lookup")
  }

  test("IVF serving stamps: codebook identity enforced on append and probe; bounded serving batch") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_stamped"
    val cents = base.filter(col("vec_id") % 50 === 0)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 10), cents,
        "vec_id"), tbl, buckets = 4)
    // width stamped at build (property read, no job)
    assert(BucketedStore.tableProp(spark, tbl, BucketedStore.DimProp)
      .contains("64"))
    // first append stamps the codebook fingerprint
    Similarity.appendToIvfIndex(base.filter(col("vec_id") < 10 ), tbl,
      cents, "vec_id", buckets = 4)
    val fp = BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp)
    assert(fp.isDefined, "the first append must stamp the codebook")
    // a DIFFERENT codebook refuses on append AND on probe
    val otherCents = base.filter(col("vec_id") % 50 === 1)
    val ea = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(base.filter(col("vec_id") < 5), tbl,
        otherCents, "vec_id", buckets = 4)
    }
    assert(ea.getMessage.contains("codebook"), ea.getMessage)
    val ep = intercept[IllegalArgumentException] {
      Similarity.probeIvfIndexExternal(spark, tbl,
        base.filter(col("vec_id") < 5)
          .withColumn("vec_id", col("vec_id") + 500000L),
        otherCents, "vec_id", 3)
    }
    assert(ep.getMessage.contains("codebook"), ep.getMessage)
    // the stamped codebook still probes (and survives a compact)
    Similarity.compactIvfIndex(spark, tbl)
    assert(BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp) == fp,
      "compaction dropped the codebook stamp")
    val got = Similarity.probeIvfIndexExternal(spark, tbl,
        base.filter(col("vec_id") < 5)
          .withColumn("vec_id", col("vec_id") + 500000L),
        cents, "vec_id", 3).collect()
    assert(got.nonEmpty)
    // an oversized serving batch fails loudly at the bound, not with
    // a broadcast OOM mid-job
    val eq = intercept[IllegalArgumentException] {
      Similarity.probeIvfIndexExternal(spark, tbl,
        base.withColumn("vec_id", col("vec_id") + 600000L), cents,
        "vec_id", 3, maxQueries = 100)
    }
    assert(eq.getMessage.contains("split the serving batch"),
      eq.getMessage)
  }

  test("persisted PQ serving index: probes equal in-memory IVF-PQ; codebooks round-trip; guards loud") {
    // e15's API contract: the persisted codes + codebook pair must
    // serve external queries exactly like the per-run pqEncode/knnIvfPq
    // pipeline on the same corpus/query split
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.pq_serving"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    val corpus = base.filter(col("vec_id") >= 10)
    val assignedC = Similarity.assignToCentroids(corpus, cents, "vec_id")
    Similarity.buildPqIndex(Similarity.pqEncode(assignedC, "vec_id", cb),
      "vec_id", tbl, cb, cents, buckets = 4)
    // the persisted codebooks reconstruct exactly
    val loaded = Similarity.loadPqCodebooks(spark, tbl)
    assert(loaded.size == cb.size &&
      loaded.zip(cb).forall { case (a, b) =>
        a.size == b.size && a.zip(b).forall { case (x, y) =>
          x.toSeq == y.toSeq } },
      "persisted PQ codebooks must round-trip bit-exactly")
    // serving stamps
    assert(BucketedStore.tableProp(spark, tbl, BucketedStore.DimProp)
      .contains("64"))
    assert(BucketedStore.tableProp(spark, tbl, Similarity.PqMProp)
      .contains("8"))
    // external probe equals the in-memory IVF-PQ on the same split
    val heldOut = base.filter(col("vec_id") < 10)
    val served = Similarity.probePqIndexExternal(spark, tbl, heldOut,
        cents, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qAssigned = Similarity.assignToCentroids(heldOut, cents, "vec_id")
    val inMem = Similarity.knnIvfPq(
        Similarity.pqEncode(assignedC, "vec_id", cb),
        qAssigned, "vec_id", cb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(served === inMem && served.nonEmpty,
      "the persisted serving probe must equal the per-run IVF-PQ")
    // wrong codebook and wrong width refuse loudly
    val ec = intercept[IllegalArgumentException] {
      Similarity.probePqIndexExternal(spark, tbl, heldOut,
        base.filter(col("vec_id") % 50 === 1), "vec_id", 3)
    }
    assert(ec.getMessage.contains("codebook"), ec.getMessage)
    val ed = intercept[IllegalArgumentException] {
      Similarity.probePqIndexExternal(spark, tbl,
        heldOut.withColumn("v", slice(col("v"), 1, 8)), cents, "vec_id", 3)
    }
    assert(ed.getMessage.contains("width"), ed.getMessage)
  }

  test("IVF and PQ appends refuse a narrow or null-element vector and write nothing") {
    // the argmax assignment cannot score either vector; the append must
    // refuse the batch, not drop the two rows and land the third
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val ivf = "sim_idx.ivf_unusable"
    val pq = "sim_idx.pq_unusable"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val corpus = Similarity.assignToCentroids(
      base.filter(col("vec_id") >= 10 && col("vec_id") < 200), cents,
      "vec_id")
    val cb = Similarity.pqTrainSampled(cents, "vec_id", m = 8,
      maxCodewords = 16)
    Similarity.buildIvfIndex(corpus, ivf, buckets = 4)
    Similarity.buildPqIndex(Similarity.pqEncode(corpus, "vec_id", cb),
      "vec_id", pq, cb, cents, buckets = 4)
    val batch = base.filter(col("vec_id") < 3).withColumn("v",
      when(col("vec_id") === 1, slice(col("v"), 1, 4))
        .when(col("vec_id") === 2, transform(col("v"),
          (x, i) => when(i === 0, lit(null)).otherwise(x)))
        .otherwise(col("v")))
    for ((tbl, append) <- Seq[(String, () => Unit)](
        ivf -> (() => Similarity.appendToIvfIndex(batch, ivf, cents,
          "vec_id", buckets = 4)),
        pq -> (() => Similarity.appendToPqIndex(batch, pq, cents,
          "vec_id")))) {
      val before = spark.table(tbl).count()
      val e = intercept[IllegalArgumentException](append())
      assert(e.getMessage.contains("width differs") &&
        e.getMessage.contains("(64)"), e.getMessage)
      assert(spark.table(tbl).count() === before,
        s"$tbl: a refused batch must write nothing")
    }
  }

  test("PQ-index lifecycle: appends encode with the persisted codebooks, replays absorbed, compact keeps stamps") {
    // the fourth grain's streaming half: a codes table built on a
    // corpus prefix and extended by micro-batches — replay and
    // mid-lifecycle compaction included — must serve exactly like a
    // one-shot buildPqIndex of the full corpus
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.pq_incremental"
    val oneTbl = "sim_idx.pq_oneshot"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    val corpus = base.filter(col("vec_id") >= 10)
    def encodedOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(
        Similarity.assignToCentroids(df, cents, "vec_id"), "vec_id", cb)
    Similarity.buildPqIndex(encodedOf(corpus.filter(col("vec_id") < 300)),
      "vec_id", tbl, cb, cents, buckets = 4)
    val batch1 = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = corpus.filter(col("vec_id") >= 400)
    Similarity.appendToPqIndex(batch1, tbl, cents, "vec_id")
    Similarity.appendToPqIndex(batch2, tbl, cents, "vec_id")
    val full = spark.table(tbl).count()
    assert(full === corpus.count())
    // replay: the (cid, id) bucket-pruned anti-join absorbs it
    Similarity.appendToPqIndex(batch1, tbl, cents, "vec_id")
    assert(spark.table(tbl).count() === full)
    // a DIFFERENT centroid codebook refuses on append
    val ea = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(batch1, tbl,
        base.filter(col("vec_id") % 50 === 1), "vec_id")
    }
    assert(ea.getMessage.contains("codebook"), ea.getMessage)
    // compact mid-lifecycle: files bounded, rows unmoved, stamps kept
    assert(BucketedStore.fileCount(spark, tbl) > 4)
    Similarity.compactPqIndex(spark, tbl)
    assert(BucketedStore.fileCount(spark, tbl) <= 4)
    assert(spark.table(tbl).count() === full)
    assert(BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp)
      .isDefined, "compaction dropped the codebook stamp")
    // replays against the COMPACTED files still absorbed
    Similarity.appendToPqIndex(batch2, tbl, cents, "vec_id")
    assert(spark.table(tbl).count() === full)
    // the streamed index's codes are IDENTICAL to one-shot (encode
    // with persisted codebooks is deterministic), so serving equals
    Similarity.buildPqIndex(encodedOf(corpus), "vec_id", oneTbl, cb,
      cents, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def probe(t: String) = Similarity.probePqIndexExternal(spark, t,
        heldOut, cents, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = probe(tbl)
    assert(streamed === probe(oneTbl) && streamed.nonEmpty,
      "the incrementally-built PQ index must serve exactly like one-shot")
  }

  test("external multi-probe IVF serving: probes=1 equals the argmax path; more probes never lose candidates") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_ext_mp"
    val cents = base.filter(col("vec_id") % 50 === 0)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 10), cents,
        "vec_id"), tbl, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def served(p: Int) = Similarity.probeIvfIndexExternal(spark, tbl,
        heldOut, cents, "vec_id", 3, probes = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probes=1: the window expansion path must equal the argmax path
    // bit-for-bit (same tie order), i.e. the default serving result
    assert(served(1) === Similarity.probeIvfIndexExternal(spark, tbl,
        heldOut, cents, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    // multi-probe candidates are a superset per query: a rank-1 hit
    // at P=1 can only be displaced by a BETTER candidate at P=3, so
    // per-query top-1 similarity is monotone — proxy check: every
    // query still returns a full top-k and the result is the
    // brute-force-over-index answer once P covers every bucket
    val cap = Similarity.probeIvfIndexExternal(spark, tbl, heldOut,
        cents, "vec_id", 3, probes = 1 << 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bruteSet = Similarity.knnBrute(
        base.filter(col("vec_id") >= 10), heldOut, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cap === bruteSet,
      "probing every bucket must equal brute force over the index")
  }

  test("external multi-probe PQ serving: probes=1 equals the argmax path; all probes equal brute ADC") {
    // e17's API contract: nprobe on the persisted IVF-PQ serving path
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.pq_ext_mp"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    val corpus = base.filter(col("vec_id") >= 10)
    val encoded = Similarity.pqEncode(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), "vec_id", cb)
    Similarity.buildPqIndex(encoded, "vec_id", tbl, cb, cents, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def served(p: Int) = Similarity.probePqIndexExternal(spark, tbl,
        heldOut, cents, "vec_id", 3, probes = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probes=1: the window fan-out path must equal the argmax path
    // bit-for-bit (same tie order), i.e. the default serving result
    assert(served(1) === Similarity.probePqIndexExternal(spark, tbl,
        heldOut, cents, "vec_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    // once P covers every bucket the probe degrades to brute ADC over
    // the whole index — knnPq with the same (persisted-round-tripped)
    // codebooks on the same corpus/query split
    val cap = served(1 << 10)
    val bruteAdc = Similarity.knnPq(encoded, heldOut, "vec_id", cb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cap === bruteAdc && cap.nonEmpty,
      "probing every bucket must equal brute ADC over the index")
    // intermediate P still returns a full top-k per query
    assert(served(2).groupBy(_._1).forall(_._2.size == 3))
  }

  test("PQ append's (cid, id) idempotence lookup bucket-prunes — the pinBucketedScan pin") {
    // r20 verdict item: appendToPqIndex's idempotence scan was the one
    // pruned scan without a plan assertion — it now routes through
    // pinBucketedScan, materialized by a collect as every pinned read
    // is (SelectedBucketsCount asserted at compile time AND on the
    // executed plan). This spec pins the shape
    // the in-path assert depends on: an In(cid) && In(id) filter over a
    // cid-bucketed codes table, compiled inside the conf window,
    // bucket-prunes on this Spark version. If an upgrade breaks that,
    // this test and every appendToPqIndex call fail loudly together
    // instead of the append silently degrading to a full codes scan.
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.pq_append_prune_pin"
    val cents = base.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqTrainSampled(cents, "vec_id", m = 8,
      maxCodewords = 16)
    val corpus = base.filter(col("vec_id") >= 10 && col("vec_id") < 300)
    Similarity.buildPqIndex(
      Similarity.pqEncode(
        Similarity.assignToCentroids(corpus, cents, "vec_id"),
        "vec_id", cb),
      "vec_id", tbl, cb, cents, buckets = 4)
    // the exact lookup frame appendToPqIndex compiles: batch keys as
    // literals over the codes table
    val someCids = spark.table(tbl).select("cid").distinct()
      .limit(2).collect().map(_.get(0)).toSeq
    val lookup = spark.table(tbl)
      .filter(col("cid").isin(someCids: _*) &&
        col("vec_id").isin(Seq(11L, 12L): _*))
      .select(col("vec_id"), col("cid"))
    BucketedStore.pinBucketedScan(spark, lookup, tbl, "SimilaritySpec pin")(
      _.collect())
    assert(lookup.columns.toSeq === Seq("vec_id", "cid"))
    // and the real append path end to end: a replayed batch is
    // absorbed through that pruned lookup (the assert runs in-path)
    val batch = base.filter(col("vec_id") >= 300 && col("vec_id") < 320)
    Similarity.appendToPqIndex(batch, tbl, cents, "vec_id")
    val n = spark.table(tbl).count()
    Similarity.appendToPqIndex(batch, tbl, cents, "vec_id")
    assert(spark.table(tbl).count() === n,
      "replayed batch must be absorbed by the pruned idempotence scan")
  }
}
