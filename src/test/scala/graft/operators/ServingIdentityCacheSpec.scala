package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Tables

/** The serving-identity session cache (r22): a repeat external probe
  * of the same index with the same codebook frame must run ZERO
  * identity derivations (no fingerprint collect, no codebook-table
  * read) — the per-probe driver jobs the high-QPS serving loop was
  * paying — while a rebuild invalidates, a compaction (same codebook,
  * same stamps) keeps the entry, and a drifted codebook still fails
  * loudly.
  */
class ServingIdentityCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val base =
    Similarity.withNorm(Tables.embeddings(spark, sf), "vec_id", "embedding")
  private def cents = base.filter(col("vec_id") % 50 === 0)

  private def derivations = Similarity.servingIdentityDerivations.get()

  test("repeat IVF external probe runs zero identity derivations") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_vecstore")
    val tbl = "graft_vecstore.spec_servcache_ivf"
    val c = cents
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 5), c,
        "vec_id"), tbl, buckets = 4)
    // a replayed append adds no rows but stamps the codebook — the
    // stamp every cache hit is re-validated against
    Similarity.appendToIvfIndex(base.filter(col("vec_id") === 5), tbl, c,
      "vec_id", buckets = 4)
    val q = base.filter(col("vec_id") < 5)
    val first = Similarity.probeIvfIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    val before = derivations
    val second = Similarity.probeIvfIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    assert(derivations === before,
      "a repeat probe with the same codebook frame must hit the cache")
    assert(second === first, "cache hit must not change the verdicts")
    // a REBUILD drops the entry: the next probe re-derives
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 5), c,
        "vec_id"), tbl, buckets = 4)
    Similarity.probeIvfIndexExternal(spark, tbl, q, c, "vec_id", 3)
      .collect()
    assert(derivations > before,
      "a rebuild must invalidate the serving-identity cache")
  }

  test("an IVF index with no codebook stamp never serves the fingerprint from the cache") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_vecstore")
    val tbl = "graft_vecstore.spec_servcache_unstamped"
    val c = cents
    // built but never appended: the build sees only the assignment, so
    // there is no codebook stamp to re-validate a cached entry against
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 5), c,
        "vec_id"), tbl, buckets = 4)
    assert(BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp)
      .isEmpty)
    val q = base.filter(col("vec_id") < 5)
    Similarity.probeIvfIndexExternal(spark, tbl, q, c, "vec_id", 3)
      .collect()
    val before = derivations
    Similarity.probeIvfIndexExternal(spark, tbl, q, c, "vec_id", 3)
      .collect()
    assert(derivations > before,
      "a repeat probe of an unstamped index must re-derive the fingerprint")
  }

  test("repeat PQ external probe runs zero identity derivations and " +
      "a drifted codebook still fails loudly") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_vecstore")
    val tbl = "graft_vecstore.spec_servcache_pq"
    val c = cents
    val corpus = base.filter(col("vec_id") >= 5)
    val codebooks = Similarity.pqTrainSampled(corpus, "vec_id", m = 8,
      maxCodewords = 4)
    Similarity.buildPqIndex(
      Similarity.pqEncode(
        Similarity.assignToCentroids(corpus, c, "vec_id"),
        "vec_id", codebooks),
      "vec_id", tbl, codebooks, c, buckets = 4)
    val q = base.filter(col("vec_id") < 5)
    val first = Similarity.probePqIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    val before = derivations
    val second = Similarity.probePqIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    assert(derivations === before,
      "a repeat PQ probe must re-derive neither fingerprint nor codebooks")
    assert(second === first)
    // a DIFFERENT codebook frame misses the cache and fails the stamp
    // check loudly — the guard the cache must not weaken
    val drifted = base.filter(col("vec_id") % 50 === 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.probePqIndexExternal(spark, tbl, q, drifted, "vec_id", 3)
    }
    assert(e.getMessage.contains("is not the one"), e.getMessage)
  }

  /** An IVF index over vec_id >= 5 with its codebook stamped by a
    * replayed one-row append. */
  private def stampedIvf(tbl: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_vecstore")
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(base.filter(col("vec_id") >= 5), cents,
        "vec_id"), tbl, buckets = 4)
    Similarity.appendToIvfIndex(base.filter(col("vec_id") === 5), tbl,
      cents, "vec_id", buckets = 4)
  }

  test("a probe right after compactIvfIndex runs zero identity derivations") {
    val tbl = "graft_vecstore.spec_servcache_compact"
    stampedIvf(tbl)
    val c = cents
    val q = base.filter(col("vec_id") < 5)
    val first = Similarity.probeIvfIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    Similarity.compactIvfIndex(spark, tbl)
    val before = derivations
    val after = Similarity.probeIvfIndexExternal(spark, tbl, q, c,
      "vec_id", 3).collect().toSet
    assert(derivations === before,
      "a compaction keeps the codebook and its stamp; the cache must too")
    assert(after === first)
  }

  test("a drifted codebook is still refused after a compact") {
    val tbl = "graft_vecstore.spec_servcache_compact_drift"
    stampedIvf(tbl)
    val q = base.filter(col("vec_id") < 5)
    Similarity.probeIvfIndexExternal(spark, tbl, q, cents, "vec_id", 3)
      .collect()
    Similarity.compactIvfIndex(spark, tbl)
    val drifted = base.filter(col("vec_id") % 50 === 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.probeIvfIndexExternal(spark, tbl, q, drifted, "vec_id", 3)
    }
    assert(e.getMessage.contains("is not the one"), e.getMessage)
  }

  /** The held-out queries as a local batch, as a serving client sends
    * them. */
  private lazy val localQueries: org.apache.spark.sql.DataFrame = {
    val held = base.filter(col("vec_id") < 5)
    spark.createDataFrame(java.util.Arrays.asList(held.collect(): _*),
      held.schema)
  }

  /** Spark jobs of the second of two identical probes — the serving
    * shape: local batch, warm cache, verdicts collected. */
  private def repeatJobs(probe: () => org.apache.spark.sql.DataFrame): Int = {
    val first = probe().collect().toSet
    val (again, jobs) = graft.JobLog.record(spark.sparkContext)(
      probe().collect())
    assert(again.toSet === first && first.nonEmpty)
    jobs.size
  }

  test("a repeat IVF external probe runs at most 4 jobs at probes = 1 and 3") {
    val tbl = "graft_vecstore.spec_servcache_ivf_jobs"
    stampedIvf(tbl)
    // a pending delete adds the tombstone exclusion every serving probe
    // then carries
    Similarity.deleteFromIndex(spark, tbl,
      base.filter(col("vec_id") === 6), "vec_id")
    for (p <- Seq(1, 3)) {
      val n = repeatJobs(() => Similarity.probeIvfIndexExternal(spark, tbl,
        localQueries, cents, "vec_id", 3, probes = p))
      info(s"probes = $p: $n jobs")
      assert(n <= 4, s"probes = $p: $n jobs")
    }
  }

  test("a repeat PQ external probe runs 4 jobs at probes = 1 and 3") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_vecstore")
    val tbl = "graft_vecstore.spec_servcache_pq_jobs"
    val corpus = base.filter(col("vec_id") >= 5)
    val codebooks = Similarity.pqTrainSampled(corpus, "vec_id", m = 8,
      maxCodewords = 4)
    Similarity.buildPqIndex(
      Similarity.pqEncode(
        Similarity.assignToCentroids(corpus, cents, "vec_id"),
        "vec_id", codebooks),
      "vec_id", tbl, codebooks, cents, buckets = 4)
    Similarity.deleteFromIndex(spark, tbl,
      base.filter(col("vec_id") === 6), "vec_id")
    for (p <- Seq(1, 3)) {
      val n = repeatJobs(() => Similarity.probePqIndexExternal(spark, tbl,
        localQueries, cents, "vec_id", 3, probes = p))
      info(s"probes = $p: $n jobs")
      assert(n === 4, s"probes = $p: $n jobs")
    }
  }
}
