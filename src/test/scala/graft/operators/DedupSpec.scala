package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Near-dup group resolution: connected components over candidate pairs. */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def groupsOf(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Dedup.nearDupGroups(pairs.toDF("a_id", "b_id"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("components resolve to min-id labels with sizes") {
    // two components: {1,2,3,9} (star + extra edge) and {5,6}
    val g = groupsOf(Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)))
    assert(g === Map(
      1L -> (1L, 4L), 2L -> (1L, 4L), 3L -> (1L, 4L), 9L -> (1L, 4L),
      5L -> (5L, 2L), 6L -> (5L, 2L)))
  }

  test("long chain converges in logarithmic rounds") {
    // a 64-node chain needs ~6 pointer-jumping rounds, far under the cap
    val chain = (1L until 64L).map(i => (i, i + 1))
    val g = groupsOf(chain)
    assert(g.size === 64)
    assert(g.values.map(_._1).toSet === Set(1L))
    assert(g(64L) === (1L, 64L))
  }

  test("duplicatedSpans merges overlapping windows into exact spans") {
    // docs 1 and 2 share the exact 6-token run S1..S6; with
    // spanTokens=4 that is 3 consecutive duplicated windows per doc,
    // which must merge back into ONE span with exact boundaries
    val span = "S1 S2 S3 S4 S5 S6"
    val docs = Seq(
      (1L, (1 to 10).map(i => s"u$i").mkString(" ") + " " + span + " " +
        (1 to 5).map(i => s"v$i").mkString(" ")),
      (2L, "w1 w2 w3 " + span + " x1 x2 x3 x4"),
      (3L, (1 to 20).map(i => s"only$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got === Set((1L, 10, 15, 6), (2L, 3, 8, 6)),
      "span boundaries must be exact and doc 3 absent")
  }

  test("duplicatedSpanStats counts within-doc repetition as duplication") {
    // the 4-gram S1..S4 occurs twice INSIDE doc 4 (positions 2 and 8,
    // gap > spanTokens): two separate 4-token spans, like ExactSubstr
    val docs = Seq(
      (4L, "y1 y2 S1 S2 S3 S4 z1 z2 S1 S2 S3 S4 q1")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq((4L, 2L, 8L, 4)))
  }

  test("duplicatedSpans: docs shorter than the window emit nothing") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    // exact 3-token duplicates, but below the 4-token window: d01's job
    assert(Dedup.duplicatedSpans(docs, "text", "doc_id", spanTokens = 4).isEmpty)
  }

  test("stripDuplicatedSpans keeps the canonical site and strips the rest") {
    val docs = Seq(
      // cross-doc duplicate: doc 1 holds the canonical (min id:pos)
      // site of S1..S4 and must come through UNTOUCHED (absent from
      // the affected-only output); doc 2's copy is stripped
      (1L, "u1 u2 u3 u4 u5 S1 S2 S3 S4 v1 v2"),
      (2L, "w1 S1 S2 S3 S4 x1 x2 x3"),
      // within-doc duplicate: first occurrence of T1..T4 is canonical
      // and survives, the second is stripped
      (3L, "y1 T1 T2 T3 T4 z1 z2 z3 T1 T2 T3 T4 q1"),
      (4L, (1 to 12).map(i => s"only$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedSpans(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === Set(
      (2L, 4, "w1 x1 x2 x3"),
      (3L, 4, "y1 T1 T2 T3 T4 z1 z2 z3 q1")))
  }

  test("stripDuplicatedLines keeps the canonical copy, strips the rest") {
    val docs = Seq(
      (1L, "unique alpha\nSHARED BANNER\nunique beta"),
      (2L, "SHARED BANNER\nunique gamma"),
      (3L, "unique delta\nSHARED BANNER"),
      (4L, "all unique here")).toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedLines(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // canonical site = doc 1 pos 1 (min id:index) keeps its banner;
    // docs 2 and 3 lose theirs; doc 4 untouched (absent)
    assert(got === Set(
      (2L, 1, "unique gamma"),
      (3L, 1, "unique delta")))
    // a doc that is ENTIRELY redundant lines comes back as an empty husk
    val husk = docs.union(Seq((5L, "SHARED BANNER")).toDF("doc_id", "text"))
    val got2 = Dedup.stripDuplicatedLines(husk, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got2(5L) === "")
  }

  test("stripContaminatedSpans removes exactly the quoted bench passage") {
    val probe = (1 to 12).map(i => s"bench$i").mkString(" ")
    val original = (1 to 20).map(i => s"own$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$original $probe"),          // probe appended
      (2L, s"$probe $original"),          // probe leading
      (3L, original)).toDF("doc_id", "text")
    val bench = Seq((100L, probe)).toDF("doc_id", "text")
    val byId = Dedup.stripContaminatedSpans(corpus, bench, "text", "doc_id",
        spanTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(byId.keySet === Set(1L, 2L), "only contaminated docs emitted")
    assert(byId(1L) === ((12, original)), s"got ${byId(1L)}")
    assert(byId(2L) === ((12, original)), s"got ${byId(2L)}")
  }

  test("lshContamination catches a planted near-copy of a bench doc") {
    // positive control (the d23 ProbePassage device): a corpus doc that
    // is a bench doc with ONE trailing token changed must collide in at
    // least one of the 6 single-slot bands — a banding bug that drops
    // all matches cannot present as a clean corpus
    val benchText = (1 to 30).map(i => s"bench$i").mkString(" ")
    val bench = Seq((1000L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, benchText.replaceAll("bench30$", "changed")),
      (2L, (1 to 30).map(i => s"clean$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.lshContamination(corpus, bench, "text", "doc_id",
        k = 6, bandWidth = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.getOrElse(1L, 0L) >= 1L,
      "planted near-copy of a bench doc was not flagged")
    assert(!got.contains(2L), "unrelated doc must not match any bench band")
  }

  test("band index: probe equals the one-shot band join; append is idempotent and bucket-pruned") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (2L, s"one two three four five $filler extra"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"alpha beta gamma delta $filler tail"),   // near-copy of 1
      (11L, (0 until 30).map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_idx"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    // probe verdicts = one-shot cross band join of the two frames
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val (probe, probeJobs) = graft.JobLog.record(spark.sparkContext)(
      Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2))
    info(s"probeBandIndex: ${probeJobs.size} jobs: " +
      probeJobs.map(_.site).mkString("; "))
    // the verdicts are driver-held rows: nothing stays persisted on
    // executors, and the call runs no more jobs than the checkpointed
    // form it replaced, which ran 6 here (three banding collects, then
    // three jobs for the eager local checkpoint) and persisted one RDD
    assert(probe.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "the probe left a persisted RDD behind")
    assert(probeJobs.size <= 6, probeJobs.map(_.site))
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minHashSignatures(df, "text", "doc_id", 6), "doc_id", 6, 2)
    val want = bandsOf(batch).select(col("doc_id"), col("band"))
      .join(bandsOf(idxDocs).select(col("doc_id").as("index_id"), col("band")), Seq("band"))
      .select("doc_id", "index_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"$got vs $want")
    assert(got.exists(_._1 == 10L), "planted near-copy found no index candidate")
    // probe contract (r16): the verdicts were ASSERTED bucket-pruned at
    // call time and collected under that plan — neither the returned
    // frame nor anything DERIVED from it can re-plan a scan of the
    // index (the r15 derived-frame full-scan fallback)
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(!probePlan.contains("FileScan"),
      s"probe result must be checkpointed, not a live index scan:\n$probePlan")
    val derived = probe.filter(col("doc_id") === 10L)
      .join(batch.select(col("doc_id")), Seq("doc_id"))
    val derivedScans = derived.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(!derivedScans.contains("spec_idx"),
      s"derived frame re-scanned the index:\n$derivedScans")
    // append, then REPLAY the same batch: second append adds nothing
    Dedup.appendToBandIndex(batch, tbl, "text", "doc_id", k = 6,
      bandWidth = 2)
    val afterFirst = spark.table(tbl).count()
    assert(afterFirst == 5L * 3, s"expected 15 band rows, got $afterFirst")
    Dedup.appendToBandIndex(batch, tbl, "text", "doc_id", k = 6,
      bandWidth = 2)
    assert(spark.table(tbl).count() == afterFirst, "replayed batch was re-appended")
    // a replayed doc is not its own near-dup, but IS a candidate of
    // docs it collides with (10 now in the index; probing 10 again
    // must not pair it with itself)
    val reprobe = Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!reprobe.exists(p => p._1 == p._2), "self-pair leaked")
    assert(reprobe.exists(_ == (10L, 1L)), "near-copy pair lost after append")
  }

  test("probeBandIndex refuses a non-bucketed table; empty batch probes empty") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"alpha beta $filler")).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    // a band frame saved WITHOUT bucketBy: correct columns, no pruning
    // possible — the call-time assertion must fail loudly instead of
    // shipping a silent full-index-scan probe
    val flat = "graft_bandidx.spec_flat"
    BucketedStore.dropTableAndLocation(spark, flat)
    Dedup.lshBands(Dedup.minHashSignatures(docs, "text", "doc_id", 6),
        "doc_id", 6, 2)
      .write.mode("overwrite").saveAsTable(flat)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeBandIndex(spark, flat, docs, "text", "doc_id", k = 6,
        bandWidth = 2)
    }
    assert(e.getMessage.contains("not band-bucketed"), e.getMessage)
    // the refusal must not depend on batch size: an EMPTY batch against
    // the same mis-built table fails the same way (the catalog check —
    // there is no plan to assert on), never a silent empty frame
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeBandIndex(spark, flat, docs.limit(0), "text", "doc_id",
        k = 6, bandWidth = 2)
    }
    assert(e2.getMessage.contains("not band-bucketed"), e2.getMessage)
    // an empty batch has no bands (nothing to pin); verdicts are empty
    val tbl = "graft_bandidx.spec_empty_probe"
    Dedup.buildBandIndex(docs, "text", "doc_id", tbl, k = 6, bandWidth = 2,
      buckets = 4)
    val got = Dedup.probeBandIndex(spark, tbl, docs.limit(0), "text",
      "doc_id", k = 6, bandWidth = 2)
    assert(got.columns.toSeq == Seq("doc_id", "index_id"))
    assert(got.count() == 0)
  }

  test("compactBandIndex: verdict-neutral, file count back to one per bucket, idempotent") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (2L, s"one two three four five $filler extra"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"alpha beta gamma delta $filler tail"),   // near-copy of 1
      (11L, (0 until 30).map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_compact"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    Dedup.appendToBandIndex(Seq((10L, s"alpha beta gamma delta $filler tail"))
        .toDF("doc_id", "text"),
      tbl, "text", "doc_id", k = 6, bandWidth = 2)
    Dedup.appendToBandIndex(Seq((11L, (0 until 30).map(i => s"q$i")
        .mkString(" "))).toDF("doc_id", "text"),
      tbl, "text", "doc_id", k = 6, bandWidth = 2)
    val before = Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filesBefore = BucketedStore.fileCount(spark, tbl)
    assert(filesBefore > 4,
      s"three deliveries should stack file sets, saw $filesBefore")
    val rowsBefore = spark.table(tbl).count()
    Dedup.compactBandIndex(spark, tbl)
    assert(BucketedStore.fileCount(spark, tbl) <= 4,
      "compaction must leave at most one file per bucket")
    assert(spark.table(tbl).count() == rowsBefore,
      "compaction with no tombstones must be row-neutral")
    // the probe after compaction still ASSERTS bucket pruning on its
    // compiled plan (a compaction that lost the bucketSpec would throw
    // here) and returns identical verdicts
    val after = Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, s"verdicts drifted: $after vs $before")
    // idempotent: a second compaction rewrites the same layout
    Dedup.compactBandIndex(spark, tbl)
    assert(BucketedStore.fileCount(spark, tbl) <= 4)
    assert(spark.table(tbl).count() == rowsBefore)
  }

  test("compactBandIndex swap: interrupted between renames, the next entry point self-heals") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq((10L, s"alpha beta gamma delta $filler tail"))
      .toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_swap_crash"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    val before = Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simulate the crash window: the live table was dropped, the
    // committed stage not yet renamed — the live name is gone, the
    // data survives as the stage
    val stage = StagedReplace.stageTable(spark, tbl)
    spark.sql(s"ALTER TABLE $tbl RENAME TO $stage")
    assert(!spark.catalog.tableExists(tbl))
    // the next entry point (any probe/append/compact) restores it
    val after = Dedup.probeBandIndex(spark, tbl, batch, "text", "doc_id",
        k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before && after.nonEmpty,
      s"recovered verdicts drifted: $after vs $before")
    assert(spark.catalog.tableExists(tbl) &&
      !spark.catalog.tableExists(stage),
      "recovery must promote the stage to the live name")
    // and a redone compaction completes normally on the restored table
    Dedup.compactBandIndex(spark, tbl)
    assert(!spark.catalog.tableExists(stage))
  }

  test("compactBandIndex under load: a probe plan compiled pre-swap fails loudly post-swap") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_swap_load"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    // a reader that compiled (file listing resolved) BEFORE the swap —
    // the interleaving the single-writer contract forbids
    val stale = spark.table(tbl).filter(col("band").isNotNull)
    stale.queryExecution.executedPlan  // force compile + file listing
    Dedup.compactBandIndex(spark, tbl)
    // the swap moved and then dropped the files the stale plan holds:
    // execution must fail loudly (ignoreMissingFiles=false default),
    // never return silently-wrong rows — the documented failure mode
    val e = intercept[Exception] { stale.collect() }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t =>
        t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).contains("does not exist") ||
        String.valueOf(t.getMessage).contains("FileNotFound")),
      s"expected a missing-file failure, got: $e")
    // the table itself is fine for plans compiled after the swap
    assert(spark.table(tbl).count() == idxDocs.count() * 3)
  }

  test("ingestResolveNearDups: an index candidate missing from indexScores fails loudly") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve_uncovered"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    // scores cover 3 and the batch, but NOT candidate 1 — without the
    // guard, doc 10 would vacuously win and 1 would never be tombstoned
    val scores = Seq((3L, 5L), (10L, 9L)).toDF("doc_id", "q")
    val batch = Seq((10L, s"alpha beta gamma delta $filler tail", 9L))
      .toDF("doc_id", "text", "q")
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestResolveNearDups(spark, tbl, batch, "text", "doc_id",
        "q", scores, k = 6, bandWidth = 2)
    }
    assert(e.getMessage.contains("no row in the indexScores frame argument"),
      e.getMessage)
    // and nothing mutated: no tombstones, no winner appended
    assert(spark.table(BucketedStore.tombstoneTable(tbl)).count() == 0)
    assert(spark.table(tbl).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("ingestResolveNearDups: the pending-tombstone cap refuses BEFORE writing — tombstones and index unchanged") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (2L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve_cap"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    val scores = Seq((1L, 5L), (2L, 5L), (3L, 5L), (10L, 9L))
      .toDF("doc_id", "q")
    // 10 beats BOTH near-copies 1 and 2: two supersede tombstones
    // against a cap of one
    val batch = Seq((10L, s"alpha beta gamma delta $filler tail", 9L))
      .toDF("doc_id", "text", "q")
    val indexBefore = spark.table(tbl).collect().toSet
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestResolveNearDups(spark, tbl, batch, "text", "doc_id",
        "q", scores, k = 6, bandWidth = 2, maxPendingTombstones = 1)
    }
    assert(e.getMessage.contains("pending deletes") &&
      e.getMessage.contains("maxPendingTombstones"), e.getMessage)
    // nothing was written: no tombstone half-applied, no winner
    // appended — the superseded docs are still live, nothing replaced
    assert(spark.table(BucketedStore.tombstoneTable(tbl)).count() == 0)
    assert(spark.table(tbl).collect().toSet == indexBefore)
    // under a cap that fits, the same delivery resolves normally
    val r = Dedup.ingestResolveNearDups(spark, tbl, batch, "text",
        "doc_id", "q", scores, k = 6, bandWidth = 2,
        maxPendingTombstones = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(r == Map(10L -> 2L), s"got $r")
    assert(spark.table(BucketedStore.tombstoneTable(tbl))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("ingestResolveNearDups: better-scored arrival supersedes; worse is dropped") {
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    val scores = Seq((1L, 5L), (3L, 5L), (10L, 9L), (11L, 2L), (12L, 7L))
      .toDF("doc_id", "q")
    // 10 near-dups 1 with a BETTER score -> kept, 1 tombstoned;
    // 12 is unrelated -> kept with no candidates
    val batchA = Seq(
      (10L, s"alpha beta gamma delta $filler tail", 9L),
      (12L, (0 until 30).map(i => s"y$i").mkString(" "), 7L))
      .toDF("doc_id", "text", "q")
    val rA = Dedup.ingestResolveNearDups(spark, tbl, batchA, "text",
        "doc_id", "q", scores, k = 6, bandWidth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(rA(10L) == ((1L, true, 1L)), s"got ${rA(10L)}")
    assert(rA(12L) == ((0L, true, 0L)), s"got ${rA(12L)}")
    assert(spark.table(BucketedStore.tombstoneTable(tbl))
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // 11 near-dups 10 (now index-resident) with a WORSE score -> dropped;
    // and 1 is tombstone-dead: a near-copy of 1 sees only live docs
    val batchB = Seq(
      (11L, s"alpha beta gamma delta $filler tail", 2L))
      .toDF("doc_id", "text", "q")
    val rB = Dedup.ingestResolveNearDups(spark, tbl, batchB, "text",
        "doc_id", "q", scores, k = 6, bandWidth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(!rB(11L)._2, "worse-scored arrival must be dropped")
    assert(rB(11L)._1 >= 1L, "live candidates (10) must be seen")
    // loser never entered the index
    assert(spark.table(tbl).filter(col("doc_id") === 11L).isEmpty)
    // compaction applies the tombstones physically and truncates them
    Dedup.compactBandIndex(spark, tbl)
    assert(spark.table(tbl).filter(col("doc_id") === 1L).isEmpty,
      "superseded doc survived compaction")
    assert(spark.table(BucketedStore.tombstoneTable(tbl)).count() == 0)
    assert(spark.table(tbl).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L, 10L, 12L))
  }

  test("resolveAtIngest hands onWinners exactly the winners, selected without id literals") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (2L, s"one two three four five $filler")).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve_winner_join"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    // 10 beats index doc 1, 11 loses to index doc 2, 20..59 are unique;
    // the delivery is a table read, so a filter on it stays in the plan
    val delivery = Seq(
        (10L, s"alpha beta gamma delta $filler tail", 9L),
        (11L, s"one two three four five $filler tail", 1L)) ++
      (20L until 60L).map(i =>
        (i, (0 until 30).map(j => s"u${i}x$j").mkString(" "), 5L))
    delivery.toDF("doc_id", "text", "q").write.mode("overwrite")
      .saveAsTable("graft_bandidx.spec_resolve_winner_batch")
    val batch = spark.table("graft_bandidx.spec_resolve_winner_batch")
    val scores = Seq((1L, 5L), (2L, 5L)).toDF("doc_id", "q")
    var handed: org.apache.spark.sql.DataFrame = null
    Dedup.resolveAtIngest(spark, tbl, batch, "text", "doc_id", "q",
      (_, withBatch) => scores
        .select(col("doc_id").as("index_id"), col("q").as("__is"))
        .join(broadcast(withBatch), Seq("index_id")),
      coverageGuarded = false, handed = _, "the scores frame", k = 6,
      bandWidth = 2, shingleSize = 3, maxBatchBands = 1 << 20,
      maxPendingTombstones = 1 << 20)
    val literals = handed.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect {
        case e: In if e.value.references.exists(_.name == "doc_id") => e
        case e: InSet if e.child.references.exists(_.name == "doc_id") => e
      }))
    assert(literals.isEmpty,
      s"winner ids entered the plan as literals: $literals")
    assert(handed.select("doc_id").collect().map(_.getLong(0)).toSet ===
      (Set(10L) ++ (20L until 60L)))
  }

  test("incremental line dedup over ascending slices equals the one-shot pass") {
    // every dup shape: within-doc (doc 1), cross-doc within-slice
    // (B: docs 1/2; Z within doc 4; Y: docs 3/5), and CROSS-SLICE
    // (L1: slice-0 doc 1 canonical, slice-1 doc 3 stripped)
    val sliceA = Seq(
      (1L, "L1\nB\nL1"),
      (2L, "B\nX")).toDF("doc_id", "text")
    val sliceB = Seq(
      (3L, "L1\nY"),
      (4L, "Z\nZ"),
      (5L, "Y\nW")).toDF("doc_id", "text")
    val oneShot = Dedup.stripDuplicatedLines(sliceA.union(sliceB), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getInt(0 + 1), r.getString(2)))).toMap
    // streamed: slice A against an empty index, then B against A's hashes
    val empty = sliceA.limit(0).select(md5(col("text")).as("line_hash"))
    val sA = Dedup.stripDuplicatedLinesVsIndex(sliceA, "text", "doc_id", empty)
    val idxAfterA = empty.union(Dedup.lineHashes(sliceA, "text"))
    val sB = Dedup.stripDuplicatedLinesVsIndex(sliceB, "text", "doc_id", idxAfterA)
    val streamed = sA.union(sB)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(streamed == oneShot, s"$streamed vs $oneShot")
    assert(oneShot.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(oneShot(3L) == ((1, "Y")), "cross-slice strip missed")
    // a REPLAY of slice B against the grown index strips everything —
    // the gate's doc_id anti-join is what absorbs it; here just pin
    // that replayed docs never resurrect content
    val idxAfterB = idxAfterA.union(Dedup.lineHashes(sliceB, "text"))
    val replay = Dedup.stripDuplicatedLinesVsIndex(sliceB, "text", "doc_id", idxAfterB)
      .collect().map(r => r.getString(2))
    assert(replay.forall(_ == ""), "replayed slice kept lines")
  }

  test("pipeline near-dup stage drops non-representatives") {
    val filler = (0 until 30).map(i => s"tok$i").mkString(" ")
    // two near-identical docs (share almost all trigrams) + one distinct
    val docs = Seq(
      (1L, s"the quick brown fox jumps over the lazy dog $filler"),
      (2L, s"the quick brown fox jumps over the lazy dog $filler end"),
      (3L, ("zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg " +
        "ff ee dd cc bb aa a1 a2 a3 a4 a5"))).toDF("doc_id", "text")
    val cleaned = Pipeline.cleanCorpus(docs, "text", "doc_id",
      thresholds = Pipeline.QualityThresholds(minTokens = 5, maxStopwordRatio = 1.0),
      nearDup = Some(Pipeline.NearDupConfig()))
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(1L) && ids.contains(3L))
    assert(!ids.contains(2L), "near-dup non-representative must be dropped")
  }
}
