package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The d49 Bloom membership artifact: no false negatives ever,
  * config-sized bitmap, config validation, and the probe plan shape
  * (broadcast bitmap, batch-grain rollup, zero corpus exchanges). */
class BloomSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("no false negatives: every inserted key probes true") {
    val corpus = (0 until 200).map(i => s"key-$i").toDF("k")
    val bloom = TextAnalysis.localizeStats(
      Dedup.buildBloom(corpus, "k", mBits = 1 << 14, k = 3))
    val probe = (0 until 200).map(i => (i.toLong, s"key-$i"))
      .toDF("id", "k")
    val got = Dedup.probeBloom(probe, "k", "id", bloom, 1 << 14, 3)
      .filter(!col("maybe_member")).count()
    assert(got == 0, s"$got inserted keys probed false")
  }

  test("absent keys mostly probe false; bitmap is config-sized") {
    val corpus = (0 until 200).map(i => s"key-$i").toDF("k")
    val bloom = Dedup.buildBloom(corpus, "k", mBits = 1 << 14, k = 3)
    assert(bloom.count() <= (1 << 14) / 32)
    val loc = TextAnalysis.localizeStats(bloom)
    val probe = (0 until 200).map(i => (i.toLong, s"other-$i"))
      .toDF("id", "k")
    val fp = Dedup.probeBloom(probe, "k", "id", loc, 1 << 14, 3)
      .filter(col("maybe_member")).count()
    // 600 set bits in 16384 -> per-probe fp ~ (600/16384)^3 ~ 5e-5
    assert(fp <= 2, s"false-positive count $fp out of 200 absent keys")
  }

  test("null keys come back maybe_member = false") {
    val corpus = Seq("a", "b").toDF("k")
    val bloom = TextAnalysis.localizeStats(
      Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 2))
    val probe = Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("id", "k")
    val got = Dedup.probeBloom(probe, "k", "id", bloom, 1 << 10, 2)
      .as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L), got.toString)
  }

  test("k beyond the single-digit salt bound is rejected at build and probe") {
    // bloomCell prepends the salt with no separator: salt "1" on key
    // "1x" aliases salt "11" on key "x", so k > 10 correlates the hash
    // functions — the guard refuses instead
    val corpus = Seq("a").toDF("k")
    val e = intercept[IllegalArgumentException] {
      Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 11)
    }
    assert(e.getMessage.contains("[1, 10]"), e.getMessage)
    val bloom = Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 10)
    val probe = Seq((1L, "a")).toDF("id", "k")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeBloom(probe, "k", "id", bloom, 1 << 10, k = 11)
    }
    assert(e2.getMessage.contains("[1, 10]"), e2.getMessage)
  }

  test("duplicate-id batch rows are collapsed before the doc-grain rollup") {
    // without the entry normalization, a replayed row doubles its k
    // cells and sum === k reports a genuine member as NOT maybe_member
    val corpus = Seq("a").toDF("k")
    val bloom = TextAnalysis.localizeStats(
      Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 3))
    val probe = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "k")
    val got = Dedup.probeBloom(probe, "k", "id", bloom, 1 << 10, 3)
      .as[(Long, Boolean)].collect().toMap
    assert(got.size == 2 && got(1L) && !got(2L), got.toString)
  }

  test("duplicate ids with CONFLICTING keys fail loudly") {
    // a duplicate id carrying a DIFFERENT key is malformed input: any
    // silent pick would make maybe_member partition-order-dependent
    // (a possible missed member, against the no-false-negatives
    // contract) — the rollup must raise instead
    val corpus = Seq("a").toDF("k")
    val bloom = TextAnalysis.localizeStats(
      Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 3))
    val probe = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("id", "k")
    val e = intercept[Exception] {
      Dedup.probeBloom(probe, "k", "id", bloom, 1 << 10, 3).collect()
    }
    assert(e.getMessage.contains("conflicting keys"), e.getMessage)
    // same id replayed with the SAME key stays fine (the dedup grain
    // is (id, key), not id)
    val ok = Dedup.probeBloom(Seq((1L, "a"), (1L, "a")).toDF("id", "k"),
        "k", "id", bloom, 1 << 10, 3)
      .as[(Long, Boolean)].collect().toMap
    assert(ok == Map(1L -> true), ok.toString)
  }

  test("mismatched config fails loudly; bad mBits rejected") {
    val corpus = Seq("a").toDF("k")
    val bloom = Dedup.buildBloom(corpus, "k", mBits = 1 << 10, k = 2)
    val probe = Seq((1L, "a")).toDF("id", "k")
    val e = intercept[IllegalArgumentException] {
      Dedup.probeBloom(probe, "k", "id", bloom, 1 << 12, 2)
    }
    assert(e.getMessage.contains("built with mBits=1024"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.buildBloom(corpus, "k", mBits = 100, k = 2)
    }
    assert(e2.getMessage.contains("multiple of 32"), e2.getMessage)
  }

  test("exactMembership: verified truth matches a direct exact join") {
    val corpus = Seq((10L, "alpha text"), (11L, "beta text"),
      (12L, "gamma text")).toDF("doc_id", "text")
    val batch = Seq((0L, "alpha text"), (1L, "delta text"),
      (2L, "beta text"), (3L, "epsilon text")).toDF("doc_id", "text")
    val got = Dedup.exactMembership(corpus, batch, "text", "doc_id",
        mBits = 1 << 12, k = 3)
      .select("doc_id", "is_member").as[(Long, Boolean)].collect().toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true, 3L -> false))
  }

  test("mergeBloomInto: redelivered merge leaves the artifact bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("bloomspec").toString
    val path = s"$dir/bf"
    val a = Seq("x", "y").toDF("k")
    val b = Seq("y", "z").toDF("k")
    Dedup.mergeBloomInto(path, a, "k", 1 << 10, 2)
    Dedup.mergeBloomInto(path, b, "k", 1 << 10, 2)
    val once = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    Dedup.mergeBloomInto(path, b, "k", 1 << 10, 2) // at-least-once replay
    val twice = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    assert(once == twice, "OR-merge must absorb redelivery")
    val oneShot = TextAnalysis.localizeStats(
        Dedup.buildBloom(a.union(b), "k", 1 << 10, 2))
      .as[(Long, Long)].collect().toMap
    assert(once == oneShot, "incremental merge must equal the one-shot")
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeBloomInto(path, b, "k", 1 << 12, 2)
    }
    assert(e.getMessage.contains("was built with"), e.getMessage)
  }

  test("mergeBloomInto staging: every swap crash window heals with zero lost bits") {
    val dir = java.nio.file.Files.createTempDirectory("bloomswap").toString
    val path = s"$dir/bf"
    val live = new org.apache.hadoop.fs.Path(path)
    val stage = StagedReplace.stageDir(live)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    val a = Seq("x", "y").toDF("k")
    val b = Seq("y", "z").toDF("k")
    Dedup.mergeBloomInto(path, a, "k", 1 << 10, 2)
    Dedup.mergeBloomInto(path, b, "k", 1 << 10, 2)
    val want = bits(spark.read.parquet(path))
    // window 1: crash BETWEEN the live delete and the stage rename —
    // live gone, committed stage holds the full merged bitmap.
    // Simulate by renaming live to the stage name.
    fs.rename(live, stage)
    assert(!fs.exists(live))
    // a probe-side load heals it: the committed stage is promoted
    assert(bits(Dedup.loadBloom(spark, path)) == want,
      "loadBloom must promote a committed stage when live is gone")
    assert(!fs.exists(stage))
    // window 2: crash after the stage COMMITTED, before the live delete
    // — a committed stage next to an intact live. The stage is the full
    // merged bitmap, so the next entry point promotes it: the live
    // directory then holds exactly the stage's files.
    def dataFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).map(_.getPath.getName).filter(_.startsWith("part-"))
        .toSet
    spark.read.parquet(path).write.parquet(stage.toString)
    val staged = dataFiles(stage)
    assert(bits(Dedup.loadBloom(spark, path)) == want)
    assert(!fs.exists(stage) && dataFiles(live) == staged,
      "a committed stage next to a live artifact must be promoted")
    // the same window healed by the redelivered merge, which then
    // redoes its batch on top (OR-idempotent)
    spark.read.parquet(path).write.parquet(stage.toString)
    Dedup.mergeBloomInto(path, b, "k", 1 << 10, 2) // the redelivery
    assert(!fs.exists(stage))
    assert(bits(spark.read.parquet(path)) == want)
    // window 3: an UNCOMMITTED stage (no _SUCCESS) next to live —
    // crashed mid-write, discarded
    fs.mkdirs(stage)
    assert(bits(Dedup.loadBloom(spark, path)) == want)
    assert(!fs.exists(stage))
    // at no point above did the merged bitmap regress: the artifact
    // still equals the incremental union
    assert(bits(spark.read.parquet(path)) == want)
  }

  test("probe plan: bitmap broadcasts, two batch-grain exchanges, no corpus scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = (0 until 100).map(i => s"key-$i").toDF("k")
    val bloom = TextAnalysis.localizeStats(
      Dedup.buildBloom(corpus, "k", mBits = 1 << 12, k = 3))
    val probe = (0 until 50).map(i => (i.toLong, s"key-$i")).toDF("id", "k")
    val df = Dedup.probeBloom(probe, "k", "id", bloom, 1 << 12, 3)
    df.collect()
    val nodes = graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan)
    val ex = nodes.collect { case s: ShuffleExchangeExec => s }
    // two exchanges, both batch-grain: the (id, key) dedup (whose
    // partitioning the per-key rollup reuses) and the id-grain rollup
    // that the conflicting-key guard rides on — the price of a loud
    // failure instead of a partition-order-dependent verdict
    assert(ex.size == 2,
      s"expected 2 exchanges (dedup + id rollup), got ${ex.size}")
    val bc = nodes.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bc.nonEmpty, "bitmap join must broadcast")
  }
}
