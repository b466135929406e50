package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The key-bucketed side-table device (d55): build / idempotent
  * append / asserted bucket-pruned point probe, and the two streamed
  * per-delivery lookups it replaces — exact-membership verification
  * and resolve-at-ingest candidate scores — pinned O(batch): no
  * corpus FileScan appears in any frame a delivery executes. */
class KeyedTableSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDb(): Unit =
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_keyed")

  test("buildKeyedTable + probeKeyedTable: point lookups, empty set, payload intact") {
    freshDb()
    val tbl = "graft_keyed.spec_roundtrip"
    val rows = (0L until 100L).map(i => (s"k$i", i * 10)).toDF("k", "v")
    Dedup.buildKeyedTable(rows, "k", tbl, buckets = 8)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val (probe, probeJobs) = graft.JobLog.record(spark.sparkContext)(
      Dedup.probeKeyedTable(spark, tbl,
        Seq("k3", "k77", "missing").toDF("k"), "k"))
    info(s"probeKeyedTable: ${probeJobs.size} jobs: " +
      probeJobs.map(_.site).mkString("; "))
    // the rows are driver-held: nothing stays persisted on executors,
    // and the call runs no more jobs than the checkpointed form it
    // replaced, which ran 3 here (two for the key-set collect, one for
    // the eager local checkpoint) and persisted one RDD
    assert(probe.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "the probe left a persisted RDD behind")
    assert(probeJobs.size <= 3, probeJobs.map(_.site))
    val got = probe
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("k3", 30L), ("k77", 770L)))
    // empty key set: no probe, empty frame with the table's schema
    val empty = Dedup.probeKeyedTable(spark, tbl,
      Seq.empty[String].toDF("k"), "k")
    assert(empty.columns.toSeq == Seq("k", "v") && empty.count() == 0)
  }

  test("buildKeyedTable refuses a duplicate key; probe refuses an unbucketed table") {
    freshDb()
    val tbl = "graft_keyed.spec_dup"
    val e = intercept[Exception] {
      Dedup.buildKeyedTable(Seq(("a", 1), ("a", 2)).toDF("k", "v"),
        "k", tbl, buckets = 4)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t =>
        String.valueOf(t.getMessage).contains("duplicate key")),
      s"expected the duplicate-key raise_error, got: $e")
    // a flat (unbucketed) table with the right columns: the catalog
    // check refuses before any probe could silently full-scan
    val flat = "graft_keyed.spec_flat"
    graft.operators.BucketedStore.dropTableAndLocation(spark, flat)
    Seq(("a", 1)).toDF("k", "v").write.saveAsTable(flat)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeKeyedTable(spark, flat, Seq("a").toDF("k"), "k")
    }
    assert(e2.getMessage.contains("not k-bucketed"), e2.getMessage)
  }

  test("appendToKeyedTable: first writer wins per key, replay appends nothing, within-batch dup fails") {
    freshDb()
    val tbl = "graft_keyed.spec_append"
    Dedup.buildKeyedTable((0L until 10L).map(i => (s"k$i", i)).toDF("k", "v"),
      "k", tbl, buckets = 4)
    // 2 new keys + 1 already-indexed key (carrying a DIFFERENT payload:
    // first writer wins, the late payload must not replace it)
    val batch = Seq(("k100", 100L), ("k101", 101L), ("k3", 999L))
      .toDF("k", "v")
    Dedup.appendToKeyedTable(batch, tbl, "k")
    assert(spark.table(tbl).count() == 12)
    assert(spark.table(tbl).filter(col("k") === "k3")
      .collect().map(_.getLong(1)).toSeq == Seq(3L),
      "an already-indexed key must keep its first payload")
    // replay: exactly-once table effect
    Dedup.appendToKeyedTable(batch, tbl, "k")
    assert(spark.table(tbl).count() == 12)
    // within-batch duplicate key: no deterministic winner — loud fail
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToKeyedTable(Seq(("x", 1L), ("x", 2L)).toDF("k", "v"),
        tbl, "k")
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // an empty batch is a no-op, not an error
    Dedup.appendToKeyedTable(batch.limit(0), tbl, "k")
    assert(spark.table(tbl).count() == 12)
    // null keys fail loudly EVERYWHERE: the idempotence anti-join and
    // isin probes never match null, so a null-keyed row would
    // re-append on every redelivery and probe silently absent
    val withNull = Seq((Option.empty[String], 1L), (Some("ok"), 2L))
      .toDF("k", "v")
    val en = intercept[IllegalArgumentException] {
      Dedup.appendToKeyedTable(withNull, tbl, "k")
    }
    assert(en.getMessage.contains("null"), en.getMessage)
    val ep = intercept[IllegalArgumentException] {
      Dedup.probeKeyedTable(spark, tbl, withNull.select("k"), "k")
    }
    assert(ep.getMessage.contains("null"), ep.getMessage)
    val eb = intercept[Exception] {
      Dedup.buildKeyedTable(withNull, "k", "graft_keyed.spec_nullbuild",
        buckets = 4)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(eb).exists(t =>
        String.valueOf(t.getMessage).contains("null key")),
      s"expected the null-key raise_error, got: $eb")
  }

  test("compactKeyedTable: one file per bucket, row-neutral, probes unchanged, idempotent") {
    freshDb()
    val tbl = "graft_keyed.spec_compact"
    Dedup.buildKeyedTable((0L until 40L).map(i => (s"k$i", i)).toDF("k", "v"),
      "k", tbl, buckets = 4)
    Dedup.appendToKeyedTable(
      (100L until 120L).map(i => (s"k$i", i)).toDF("k", "v"), tbl, "k")
    Dedup.appendToKeyedTable(
      (200L until 220L).map(i => (s"k$i", i)).toDF("k", "v"), tbl, "k")
    val probeKeys = Seq("k3", "k105", "k210", "nope").toDF("k")
    val before = Dedup.probeKeyedTable(spark, tbl, probeKeys, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(BucketedStore.fileCount(spark, tbl) > 4,
      "three deliveries should stack file sets")
    val rows = spark.table(tbl).count()
    Dedup.compactKeyedTable(spark, tbl, "k")
    assert(BucketedStore.fileCount(spark, tbl) <= 4,
      "compaction must leave at most one file per bucket")
    assert(spark.table(tbl).count() == rows,
      "keyed compaction must be row-neutral")
    val after = Dedup.probeKeyedTable(spark, tbl, probeKeys, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before && after.size == 3,
      s"probes drifted: $after vs $before")
    // idempotent; and the table still accepts pruned appends after
    Dedup.compactKeyedTable(spark, tbl, "k")
    assert(BucketedStore.fileCount(spark, tbl) <= 4)
    Dedup.appendToKeyedTable(Seq(("k300", 300L)).toDF("k", "v"), tbl, "k")
    assert(spark.table(tbl).count() == rows + 1)
  }

  test("exactMembershipViaTable equals exactMembership; zero corpus FileScans in the probe-side plan") {
    freshDb()
    // corpus ON DISK so a corpus FileScan is detectable by path
    val corpusDir = graft.TestScratch.dir("keyed-corpus")
    (0L until 40L).map(i => (i, s"corpus doc $i body"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    // batch: 2 exact members, 2 non-members
    val batch = Seq(
      (100L, "corpus doc 3 body"), (101L, "corpus doc 17 body"),
      (102L, "novel one"), (103L, "novel two")).toDF("doc_id", "text")
    val fpTbl = "graft_keyed.spec_fp"
    Dedup.buildFingerprintTable(corpus, "text", fpTbl, buckets = 8)
    val bloom = TextAnalysis.localizeStats(Dedup.buildBloom(
      corpus.select(md5(col("text")).as("fp")), "fp",
      mBits = 1 << 12, k = 3))
    val via = Dedup.exactMembershipViaTable(spark, fpTbl, batch,
      "text", "doc_id", bloom, mBits = 1 << 12, k = 3)
    // THE per-delivery pin: the delivered frame's lineage holds NO scan
    // of the corpus files — membership truth came from bucket-pruned
    // point lookups of the fingerprint table (asserted inside
    // probeKeyedTable) plus checkpointed batch-proportional rows
    val plan = via.queryExecution.executedPlan.toString
    assert(!plan.contains(corpusDir),
      s"corpus FileScan leaked into the probe plan:\n$plan")
    // ... where the one-shot form DOES scan the corpus per call
    val oneShot = Dedup.exactMembership(corpus, batch, "text", "doc_id",
      mBits = 1 << 12, k = 3)
    assert(oneShot.queryExecution.executedPlan.toString.contains(corpusDir),
      "fixture self-check: the one-shot form should scan the corpus")
    val a = via.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    val b = oneShot.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(a == b && a.map(_._1) == Set(100L, 101L, 102L, 103L), s"$a vs $b")
    assert(a.filter(_._3).map(_._1) == Set(100L, 101L))
  }

  test("within-batch near-dups: the documented d42 pre-resolve composes with the indexed resolve") {
    freshDb()
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq((1L, s"alpha beta gamma delta $filler"))
      .toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_prebatch"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    val scoreTbl = "graft_keyed.spec_prebatch_scores"
    Dedup.buildKeyedTable(Seq((1L, 5L)).toDF("doc_id", "q"),
      "doc_id", scoreTbl, buckets = 4)
    // the batch carries its OWN near-dup pair (20 vs 21, 20 better) —
    // the scope the operator documents as unresolved: pre-resolve with
    // the one-shot d42 pass, then ingest only the representatives
    val batch = Seq(
      (20L, s"alpha beta gamma delta $filler tail", 9L),
      (21L, s"alpha beta gamma delta $filler tail more", 3L))
      .toDF("doc_id", "text", "q")
    val pre = Dedup.resolveNearDupsByQuality(batch,
      Dedup.nearDupGroups(Dedup.lshCandidatePairs(
        batch, "text", "doc_id", k = 6, bandWidth = 2)),
      "doc_id", "q")
    val dropped = pre.filter(!col("keep")).select("doc_id")
    val reps = batch.join(dropped, Seq("doc_id"), "left_anti")
    assert(reps.select("doc_id").as[Long].collect().toSet == Set(20L),
      "the d42 pass must keep the better-scored within-batch copy")
    val r = Dedup.ingestResolveNearDupsIndexed(spark, tbl, reps, "text",
        "doc_id", "q", scoreTbl, k = 6, bandWidth = 2)
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r == Map(20L -> true),
      "the surviving representative resolves against the index alone")
    assert(spark.table(BucketedStore.tombstoneTable(tbl))
      .as[Long].collect().toSet == Set(1L),
      "the superseded index doc must be tombstoned")
    Dedup.compactBandIndex(spark, tbl)  // applies the tombstone
    assert(spark.table(tbl).select("doc_id").distinct()
      .as[Long].collect().toSet == Set(20L),
      "index holds the winner; candidate 1 removed, 21 never entered")
  }

  test("ingestResolveNearDupsIndexed equals the frame form and maintains the score table") {
    freshDb()
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve_indexed"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    val scoreTbl = "graft_keyed.spec_scores"
    Dedup.buildKeyedTable(Seq((1L, 5L), (3L, 5L)).toDF("doc_id", "q"),
      "doc_id", scoreTbl, buckets = 4)
    // 10 beats candidate 1 -> kept, 1 tombstoned; 12 unrelated -> kept
    val batchA = Seq(
      (10L, s"alpha beta gamma delta $filler tail", 9L),
      (12L, (0 until 30).map(i => s"y$i").mkString(" "), 7L))
      .toDF("doc_id", "text", "q")
    val rA = Dedup.ingestResolveNearDupsIndexed(spark, tbl, batchA,
        "text", "doc_id", "q", scoreTbl, k = 6, bandWidth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(rA(10L) == ((1L, true, 1L)), s"got ${rA(10L)}")
    assert(rA(12L) == ((0L, true, 0L)), s"got ${rA(12L)}")
    // winners' scores were appended — the table stays complete as the
    // index grows, so the NEXT delivery's candidates are all covered
    assert(spark.table(scoreTbl).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 5L), (3L, 5L), (10L, 9L), (12L, 7L)))
    // a later arrival that near-dups the NEWLY kept winner: its score
    // comes from the maintained table (a stale score side would fail
    // the coverage guard here)
    val batchB = Seq((11L, s"alpha beta gamma delta $filler tail", 2L))
      .toDF("doc_id", "text", "q")
    val rB = Dedup.ingestResolveNearDupsIndexed(spark, tbl, batchB,
        "text", "doc_id", "q", scoreTbl, k = 6, bandWidth = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(!rB(11L)._2, "worse-scored arrival must be dropped")
    assert(rB(11L)._1 >= 1L, "live candidate (10) must be seen and scored")
    // the loser's score never entered the table
    assert(spark.table(scoreTbl).filter(col("doc_id") === 11L).isEmpty)
    // replay of batch A: verdicts identical, no table growth anywhere
    val bandRows = spark.table(tbl).count()
    val rA2 = Dedup.ingestResolveNearDupsIndexed(spark, tbl, batchA,
        "text", "doc_id", "q", scoreTbl, k = 6, bandWidth = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rA2(10L) && rA2(12L), "replayed winners must win again")
    assert(spark.table(tbl).count() == bandRows)
    assert(spark.table(scoreTbl).count() == 4)
  }

  test("probe join form above the literal threshold: identical rows at the boundary, nulls refused") {
    freshDb()
    val tbl = "graft_keyed.spec_joinform"
    val rows = (0 until 50).map(i => (s"k$i", i.toLong))
    Dedup.buildKeyedTable(rows.toDF("k", "v"), "k", tbl, buckets = 4)
    val wantKeys = (0 until 20).map(i => s"k${i * 2}")
    val probeKeys = wantKeys.toDF("k")
    val expect = rows.filter(r => wantKeys.contains(r._1)).toSet
    def got(threshold: Int): Set[(String, Long)] =
      Dedup.probeKeyedTable(spark, tbl, probeKeys, "k",
          joinFormThreshold = threshold)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // threshold boundary: n == threshold stays on the literal form,
    // n == threshold + 1 switches to the bucket-aligned join — the
    // rows must be identical either side (the join form additionally
    // self-asserts zero table-side exchange on its executed plan)
    assert(got(20) == expect, "literal form at n == threshold")
    assert(got(19) == expect, "join form at n == threshold + 1")
    assert(got(1) == expect, "join form well past the threshold")
    // a probe key absent from the table returns nothing, both forms
    val misses = Seq("nope1", "nope2").toDF("k")
    assert(Dedup.probeKeyedTable(spark, tbl, misses, "k",
      joinFormThreshold = 1).collect().isEmpty)
    // null keys refuse loudly in the join form too (an equi-join
    // never matches null — the probe would silently come back absent)
    val withNull = probeKeys.unionByName(Seq[String](null).toDF("k"))
    val e = intercept[IllegalArgumentException] {
      Dedup.probeKeyedTable(spark, tbl, withNull, "k",
        joinFormThreshold = 3)
    }
    assert(e.getMessage.contains("null k in the probe key set"),
      e.getMessage)
  }

  test("append join form above the literal threshold: first writer still wins, validations distributed") {
    freshDb()
    val tbl = "graft_keyed.spec_joinform_append"
    Dedup.buildKeyedTable(Seq(("k0", 0L)).toDF("k", "v"), "k", tbl,
      buckets = 4)
    val batch = (0 until 10).map(i => (s"k$i", i.toLong + 100))
      .toDF("k", "v")
    // 10 rows > threshold 5 -> the bucket-aligned join form; the
    // pre-existing k0 must keep its first-writer payload
    Dedup.appendToKeyedTable(batch, tbl, "k", joinFormThreshold = 5)
    val got = spark.table(tbl).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size == 10 && got("k0") == 0L && got("k5") == 105L,
      s"join-form append must anti-join existing keys, got $got")
    // replay in the join form appends nothing
    Dedup.appendToKeyedTable(batch, tbl, "k", joinFormThreshold = 5)
    assert(spark.table(tbl).count() == 10)
    // within-batch duplicates and null keys refuse loudly in the join
    // form too (validated distributed — no driver hop)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.appendToKeyedTable(
        Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("k", "v"), tbl, "k",
        joinFormThreshold = 1)
    }
    assert(e1.getMessage.contains("duplicate k keys"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToKeyedTable(
        Seq((null: String, 1L), ("z", 2L)).toDF("k", "v"), tbl, "k",
        joinFormThreshold = 1)
    }
    assert(e2.getMessage.contains("null k key"), e2.getMessage)
    // neither failed append mutated the table
    assert(spark.table(tbl).count() == 10)
  }

  test("indexed coverage guard names the score TABLE, not the frame argument") {
    freshDb()
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler")).toDF("doc_id", "text")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    val tbl = "graft_bandidx.spec_resolve_idx_uncov"
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    // the score table is MISSING candidate 1's score: the guard must
    // name the persisted-table path so triage looks at the right side
    val scoreTbl = "graft_keyed.spec_scores_uncov"
    Dedup.buildKeyedTable(Seq((99L, 1L)).toDF("doc_id", "q"),
      "doc_id", scoreTbl, buckets = 4)
    val batch = Seq((10L, s"alpha beta gamma delta $filler tail", 9L))
      .toDF("doc_id", "text", "q")
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestResolveNearDupsIndexed(spark, tbl, batch, "text",
        "doc_id", "q", scoreTbl, k = 6, bandWidth = 2)
    }
    assert(e.getMessage.contains(
        s"no row in the persisted score table $scoreTbl"),
      e.getMessage)
  }
}
