package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Tables

/** The delete lifecycle on the persisted vector families
  * (deleteFromIndex → probe exclusion → compact apply → re-append):
  * takedowns must be immediate at probe time, physically reclaimed at
  * compact time, and never silently resurrect an old row.
  */
class IndexDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val base =
    Similarity.withNorm(Tables.embeddings(spark, sf), "vec_id", "embedding")
  private lazy val cents = base.filter(col("vec_id") % 50 === 0)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("IVF delete: immediate exclusion, top-k refills, compact applies physically, probes unchanged") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_delete"
    val corpus = base.filter(col("vec_id") >= 10)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def probe() = rows(Similarity.probeIvfIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3))
    val before = probe()
    // victim: the globally best-ranked neighbor — the hardest row to
    // hide (it must be REPLACED in its queries' top-k, not just absent)
    val victim = before.filter(_._3 == 1).minBy(_._1)._2
    Similarity.deleteFromIndex(spark, tbl,
      corpus.filter(col("vec_id") === victim), "vec_id")
    val after = probe()
    assert(!after.exists(_._2 == victim),
      "a tombstoned row still served as a neighbor")
    assert(after.groupBy(_._1).forall(_._2.size == 3),
      "the top-k did not refill after the delete — exclusion must run " +
        "BEFORE ranking")
    // physical rows untouched until compact; by-id probes also exclude
    val full = spark.table(tbl).count()
    assert(full === corpus.count())
    assert(Similarity.probeIvfIndex(spark, tbl,
      col("vec_id") === victim, "vec_id", 3).count() === 0)
    assert(rows(Similarity.pendingDeletes(spark, tbl, "vec_id")
      .withColumn("b", col("vec_id")).withColumn("r", lit(1)))
      .map(_._1) === Set(victim))
    // re-delete is a no-op (idempotent)
    Similarity.deleteFromIndex(spark, tbl,
      corpus.filter(col("vec_id") === victim), "vec_id")
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count() === 1)
    // compact APPLIES: row physically gone, tombstones cleared, stamp
    // survives, serving unchanged
    Similarity.compactIvfIndex(spark, tbl)
    assert(spark.table(tbl).count() === full - 1)
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count() === 0)
    assert(BucketedStore.tableProp(spark, tbl, BucketedStore.DimProp).isDefined)
    assert(probe() === after,
      "serving results moved when the pending delete became physical")
  }

  test("a compaction swap interrupted between its renames heals at the IVF append and delete entry points") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_heal"
    val corpus = base.filter(col("vec_id") >= 10 && col("vec_id") < 200)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    val n = spark.table(tbl).count()
    val stage = StagedReplace.stageTable(spark, tbl)
    // the state a crash after the live drop, before the stage rename
    // leaves: the live name is gone, the full data is the committed
    // stage
    def crash(): Unit = {
      spark.sql(s"ALTER TABLE $tbl RENAME TO $stage")
      assert(!spark.catalog.tableExists(tbl))
    }
    crash()
    Similarity.appendToIvfIndex(base.filter(col("vec_id") < 10), tbl,
      cents, "vec_id", buckets = 4)
    assert(spark.table(tbl).count() === n + 10,
      "the append must heal the swap and then append its batch")
    assert(!spark.catalog.tableExists(stage))
    crash()
    Similarity.deleteFromIndex(spark, tbl,
      base.filter(col("vec_id") === 11), "vec_id")
    assert(spark.catalog.tableExists(tbl) &&
      !spark.catalog.tableExists(stage))
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id")
      .collect().map(_.getLong(0)).toSeq === Seq(11L))
    // the by-id probe, after one more crash, serves the healed table
    crash()
    assert(Similarity.probeIvfIndex(spark, tbl, col("vec_id") === 12,
      "vec_id", 3).count() > 0)
  }

  test("a tombstoned id refuses re-append until compacted, then re-enters cleanly") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_readd"
    val corpus = base.filter(col("vec_id") >= 10 && col("vec_id") < 400)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    val victim = corpus.select(col("vec_id")).limit(1).collect().head.getLong(0)
    val victimRows = base.filter(col("vec_id") === victim)
    Similarity.deleteFromIndex(spark, tbl, victimRows, "vec_id")
    // the idempotence anti-join would silently keep the OLD physical
    // row and the deleted value would serve again — refuse instead
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(victimRows, tbl, cents, "vec_id",
        buckets = 4)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    Similarity.compactIvfIndex(spark, tbl)
    assert(spark.table(tbl).filter(col("vec_id") === victim).count() === 0)
    // after the physical apply the id re-enters and serves again
    Similarity.appendToIvfIndex(victimRows, tbl, cents, "vec_id",
      buckets = 4)
    assert(spark.table(tbl).filter(col("vec_id") === victim).count() === 1)
    assert(Similarity.probeIvfIndex(spark, tbl,
      col("vec_id") === victim, "vec_id", 3).count() === 3)
  }

  test("store delete: shortlist refills from live rows; by-id and external probes agree; compact applies") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.store_delete"
    val corpus = base.filter(col("vec_id") >= 10)
    Similarity.buildVectorStore(corpus, "vec_id", tbl, buckets = 8,
      prefixDims = 16)
    val heldOut = base.filter(col("vec_id") < 10)
    def probe() = rows(Similarity.probeVectorStoreExternal(spark, tbl,
      heldOut, "vec_id", 3, shortlist = 25))
    val victim = probe().filter(_._3 == 1).minBy(_._1)._2
    Similarity.deleteFromIndex(spark, tbl,
      corpus.filter(col("vec_id") === victim), "vec_id")
    val after = probe()
    assert(!after.exists(_._2 == victim))
    assert(after.groupBy(_._1).forall(_._2.size == 3),
      "the shortlist must refill from live rows — exclusion runs before " +
        "stage 1 ranks")
    assert(Similarity.knnMatryoshkaIndexed(spark, tbl,
      col("vec_id") === victim, "vec_id", 3, shortlist = 25).count() === 0)
    val full = spark.table(tbl).count()
    Similarity.compactVectorStore(spark, tbl, "vec_id")
    assert(spark.table(tbl).count() === full - 1)
    assert(BucketedStore.tableProp(spark, tbl, Similarity.PrefixDimsProp)
      .contains("16"), "compaction dropped the prefix stamp")
    assert(probe() === after)
    // the applied id re-enters through the store's own append path
    Similarity.appendToVectorStore(base.filter(col("vec_id") === victim),
      tbl, "vec_id")
    assert(spark.table(tbl).filter(col("vec_id") === victim).count() === 1)
  }

  test("PQ delete: ADC ranking excludes before top-k; append refuses; compact keeps codebook stamps") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.pq_delete"
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8,
      maxCodewords = 16)
    val corpus = base.filter(col("vec_id") >= 10)
    Similarity.buildPqIndex(
      Similarity.pqEncode(
        Similarity.assignToCentroids(corpus, cents, "vec_id"), "vec_id", cb),
      "vec_id", tbl, cb, cents, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    def probe() = rows(Similarity.probePqIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3))
    val victim = probe().filter(_._3 == 1).minBy(_._1)._2
    Similarity.deleteFromIndex(spark, tbl,
      corpus.filter(col("vec_id") === victim), "vec_id")
    val after = probe()
    assert(!after.exists(_._2 == victim))
    assert(after.groupBy(_._1).forall(_._2.size == 3))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(base.filter(col("vec_id") === victim),
        tbl, cents, "vec_id")
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    val full = spark.table(tbl).count()
    Similarity.compactPqIndex(spark, tbl)
    assert(spark.table(tbl).count() === full - 1)
    assert(BucketedStore.tableProp(spark, tbl, Similarity.CodebookProp)
      .isDefined, "compaction dropped the codebook stamp")
    assert(probe() === after)
  }

  test("band-index takedown: probes exclude immediately, compact reclaims, re-append refused until then") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.band_delete"
    val filler = (0 until 30).map(i => s"w$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"alpha beta gamma delta $filler"),
      (2L, s"one two three four five $filler extra"),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"alpha beta gamma delta $filler tail")).toDF("doc_id", "text")
    Dedup.buildBandIndex(idxDocs, "text", "doc_id", tbl, k = 6,
      bandWidth = 2, buckets = 4)
    def probe() = Dedup.probeBandIndex(spark, tbl, batch, "text",
      "doc_id", k = 6, bandWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe().contains((10L, 1L)),
      "fixture broken: the near-copy must candidate doc 1 pre-delete")
    // takedown doc 1 through the SAME api the vector families use
    Similarity.deleteFromIndex(spark, tbl, Seq(1L).toDF("doc_id"), "doc_id")
    assert(!probe().exists(_._2 == 1L),
      "a tombstoned doc still surfaced as a near-dup candidate")
    // old bands still on disk; re-append refused until they're gone
    val bandRows = spark.table(tbl).count()
    val er = intercept[IllegalArgumentException] {
      Dedup.appendToBandIndex(idxDocs.filter(col("doc_id") === 1L), tbl,
        "text", "doc_id", k = 6, bandWidth = 2)
    }
    assert(er.getMessage.contains("tombstoned"), er.getMessage)
    Dedup.compactBandIndex(spark, tbl)
    assert(spark.table(tbl).count() < bandRows,
      "compact did not reclaim the tombstoned doc's bands")
    assert(spark.table(BucketedStore.tombstoneTable(tbl)).count() === 0)
    // reclaimed: the doc may re-enter and candidates again
    Dedup.appendToBandIndex(idxDocs.filter(col("doc_id") === 1L), tbl,
      "text", "doc_id", k = 6, bandWidth = 2)
    assert(probe().contains((10L, 1L)),
      "a re-appended doc must serve as a candidate again")
  }

  test("parallel deletes all land; a probe racing deletes never sees a torn top-k") {
    // the StatsStoreConcurrencySpec discipline on the delete device:
    // deletes serialize under the engine's one maintenance lock (each
    // is one side-table append), so N racing deleters of DISJOINT id
    // sets must all land exactly once; a prober racing them reads some
    // prefix of the tombstone appends — its exclusion set only grows —
    // and every result it returns is a FULL top-k over live rows
    // (exclusion runs before ranking, so a mid-race probe can lag, but
    // can never tear). Compact stays single-writer by contract, run
    // here only after the race settles.
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_conc_delete"
    val corpus = base.filter(col("vec_id") >= 10)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    val heldOut = base.filter(col("vec_id") < 10)
    val groups = (0 until 3).map(g =>
      corpus.filter(col("vec_id") % 50 === (20 + g)))
    val groupCount = groups.map(_.count()).sum
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val deleters = groups.map(g => Future {
        Similarity.deleteFromIndex(spark, tbl, g, "vec_id"); ()
      })
      val prober = Future {
        (0 until 4).foreach { _ =>
          val out = Similarity.probeIvfIndexExternal(spark, tbl,
            heldOut, cents, "vec_id", 3).collect()
          assert(out.length == 30,
            s"a mid-race probe returned a torn top-k: ${out.length}/30")
        }
      }
      (deleters :+ prober).foreach(Await.result(_, 5.minutes))
    } finally { pool.shutdown(); () }
    // every racing delete landed exactly once
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count()
      === groupCount)
    val settled = rows(Similarity.probeIvfIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3))
    val deletedIds = groups.flatMap(_.select("vec_id").collect()
      .map(_.getLong(0))).toSet
    assert(!settled.exists(p => deletedIds.contains(p._2)))
    // single-writer compact applies the whole race's tombstones
    Similarity.compactIvfIndex(spark, tbl)
    assert(spark.table(tbl).count() === corpus.count() - groupCount)
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count() === 0)
    assert(rows(Similarity.probeIvfIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3)) === settled)
  }

  test("write-path jobs: an IVF append beside pending tombstones runs at most 8, a delete at most 4") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_write_jobs"
    Similarity.buildIvfIndex(Similarity.assignToCentroids(
      base.filter(col("vec_id") >= 20), cents, "vec_id"), tbl, buckets = 4)
    Similarity.deleteFromIndex(spark, tbl, Seq(30L).toDF("vec_id"),
      "vec_id")
    // fresh ids, as a serving index's deliveries carry
    val (_, append) = graft.JobLog.record(spark.sparkContext)(
      Similarity.appendToIvfIndex(
        base.filter(col("vec_id") >= 10 && col("vec_id") < 20), tbl, cents,
        "vec_id", buckets = 4))
    assert(spark.table(tbl).count() === base.count() - 10)
    val (_, delete) = graft.JobLog.record(spark.sparkContext)(
      Similarity.deleteFromIndex(spark, tbl, (40L until 60L).toDF("vec_id"),
        "vec_id"))
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count() === 21)
    def sites(jobs: Seq[graft.JobLog.Job]) = jobs.map(_.site).mkString("; ")
    info(s"append: ${append.size} jobs (${sites(append)})")
    info(s"delete: ${delete.size} jobs (${sites(delete)})")
    assert(append.size <= 8, sites(append))
    assert(delete.size <= 4, sites(delete))
  }

  test("tasks per bucketed write and probe: at most one per core, each holding whole buckets") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_tasks"
    val widest = math.min(32, spark.sparkContext.defaultParallelism)
    Similarity.buildIvfIndex(Similarity.assignToCentroids(
      base.filter(col("vec_id") >= 40), cents, "vec_id"), tbl, buckets = 32)
    def filesPerBucket(): Map[Int, Int] = {
      import org.apache.spark.sql.execution.datasources.BucketingUtils
      val loc = new org.apache.hadoop.fs.Path(
        BucketedStore.metadata(spark, tbl).location)
      loc.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(loc)
        .map(_.getPath.getName).filterNot(n => n.startsWith("_") ||
          n.startsWith(".")).toSeq
        .groupBy(n => BucketingUtils.getBucketId(n).get).map {
          case (b, fs) => b -> fs.size }
    }
    // every cid's pruned read returns exactly that cid's rows: each
    // task wrote its rows to the buckets they hash to
    def placementHolds(): Unit = {
      val all = spark.table(tbl).select("cid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (c <- all.map(_._1)) {
        val pruned = BucketedStore.pinBucketedScan(spark,
          spark.table(tbl).filter(col("cid") === c).select("cid", "vec_id"),
          tbl, "IndexDeleteSpec")(_.collect())
        assert(pruned.map(r => (r.getLong(0), r.getLong(1))).toSet ===
          all.filter(_._1 == c), s"cid $c")
      }
    }
    val built = filesPerBucket()
    val (_, append) = graft.JobLog.record(spark.sparkContext)(
      Similarity.appendToIvfIndex(
        base.filter(col("vec_id") >= 10 && col("vec_id") < 40), tbl, cents,
        "vec_id"))
    val appended = filesPerBucket()
    assert(appended.forall { case (b, n) => n - built.getOrElse(b, 0) <= 1 },
      s"built $built, appended $appended")
    placementHolds()
    val heldOut = base.filter(col("vec_id") < 10)
    def probe() = rows(Similarity.probeIvfIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3))
    val first = probe()
    val (again, repeat) = graft.JobLog.record(spark.sparkContext)(probe())
    assert(again === first)
    val (_, compact) = graft.JobLog.record(spark.sparkContext)(
      Similarity.compactIvfIndex(spark, tbl))
    assert(filesPerBucket().values.forall(_ == 1))
    assert(filesPerBucket().keySet === appended.keySet)
    placementHolds()
    assert(rows(Similarity.probeIvfIndexExternal(spark, tbl,
      heldOut, cents, "vec_id", 3)) === first)
    // the band and keyed probes read the same way: a 32-bucket band
    // index and keyed table, each grown by an append (a second file
    // set), probed, compacted and probed again
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bandidx")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_keyed")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val bandTbl = "graft_bandidx.tasks_idx"
    Dedup.buildBandIndex(docs.filter(col("doc_id") % 3 =!= 0), "text",
      "doc_id", bandTbl, buckets = 32)
    Dedup.appendToBandIndex(docs.filter(col("doc_id") % 3 === 0), bandTbl,
      "text", "doc_id")
    // near-copies of indexed docs under fresh ids
    val nearCopies = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    def bandProbe() = Dedup.probeBandIndex(spark, bandTbl, nearCopies,
      "text", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bandBefore, bandJobs) =
      graft.JobLog.record(spark.sparkContext)(bandProbe())
    assert(bandBefore.nonEmpty, "no near-copy found its indexed original")
    Dedup.compactBandIndex(spark, bandTbl)
    assert(bandProbe() === bandBefore)
    val keyedTbl = "graft_keyed.tasks_keyed"
    Dedup.buildKeyedTable((0L until 200L).map(i => (s"k$i", i))
      .toDF("k", "v"), "k", keyedTbl, buckets = 32)
    Dedup.appendToKeyedTable((200L until 260L).map(i => (s"k$i", i))
      .toDF("k", "v"), keyedTbl, "k")
    val probeKeys = (0L until 260L by 7L).map(i => s"k$i").toDF("k")
    def keyedProbe() = Dedup.probeKeyedTable(spark, keyedTbl, probeKeys, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val (keyedBefore, keyedJobs) =
      graft.JobLog.record(spark.sparkContext)(keyedProbe())
    assert(keyedBefore === (0L until 260L by 7L).map(i => (s"k$i", i)).toSet)
    Dedup.compactKeyedTable(spark, keyedTbl, "k")
    assert(keyedProbe() === keyedBefore)
    val calls = Seq("append" -> append, "repeat probe" -> repeat,
      "compact" -> compact, "band probe" -> bandJobs,
      "keyed probe" -> keyedJobs)
    def widths(jobs: Seq[graft.JobLog.Job]) = jobs.map(j =>
      s"${j.site}: ${j.stageTasks.values.mkString("/")}").mkString("; ")
    calls.foreach { case (call, jobs) => info(s"$call: ${widths(jobs)}") }
    for ((call, jobs) <- calls) {
      assert(jobs.exists(_.stageTasks.nonEmpty), s"$call ran no task")
      assert(jobs.forall(_.widestStage <= widest),
        s"$call ran a stage wider than $widest tasks: ${widths(jobs)}")
      // a bounded collect is named after the operator line that asked
      // for it, not after DriverBounded's own
      assert(!jobs.exists(_.site.contains("DriverBounded.scala")),
        s"$call: ${widths(jobs)}")
    }
    // so the band probe's banding collects and the IVF probe's collects
    // can be told apart
    def collectSites(jobs: Seq[graft.JobLog.Job]) =
      jobs.map(_.site).filter(_.startsWith("collect at")).toSet
    assert((collectSites(bandJobs) -- collectSites(repeat)).nonEmpty &&
      (collectSites(repeat) -- collectSites(bandJobs)).nonEmpty,
      s"band probe: ${widths(bandJobs)}; repeat probe: ${widths(repeat)}")
  }

  test("delete bounds and hygiene: pending cap refuses loudly, null ids refuse, absent ids guard appends, rebuild clears") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
    val tbl = "sim_idx.ivf_bounds"
    val corpus = base.filter(col("vec_id") >= 10 && col("vec_id") < 200)
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    // tombstones broadcast into every probe — past the cap the delete
    // must fail with direction (compact), not OOM a serving path later
    val eb = intercept[IllegalArgumentException] {
      Similarity.deleteFromIndex(spark, tbl,
        corpus.limit(5), "vec_id", maxPendingDeletes = 3)
    }
    assert(eb.getMessage.contains("pending deletes"), eb.getMessage)
    import spark.implicits._
    val en = intercept[IllegalArgumentException] {
      Similarity.deleteFromIndex(spark, tbl,
        Seq(Option.empty[Long], Some(11L)).toDF("vec_id"), "vec_id")
    }
    assert(en.getMessage.contains("null"), en.getMessage)
    // deleting an id NOT in the index guards it against a racing
    // append (the takedown-before-arrival case)
    val absent = 999999L
    Similarity.deleteFromIndex(spark, tbl,
      Seq(absent).toDF("vec_id"), "vec_id")
    val ea = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        base.filter(col("vec_id") === 11).withColumn("vec_id", lit(absent)),
        tbl, cents, "vec_id", buckets = 4)
    }
    assert(ea.getMessage.contains("tombstoned"), ea.getMessage)
    // a REBUILD starts clean: no pending deletes survive it
    Similarity.buildIvfIndex(
      Similarity.assignToCentroids(corpus, cents, "vec_id"), tbl, buckets = 4)
    assert(Similarity.pendingDeletes(spark, tbl, "vec_id").count() === 0)
  }
}
