package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** Physical-plan assertions for the headline queries: filters reach the
  * parquet scan, projections prune columns, small dimensions broadcast,
  * and nothing degenerates into a cartesian product. These are the
  * properties that decide whether a plan survives a 100x scale-up.
  */
class QueryPlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: filters push down to the parquet scan and columns prune") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("GreaterThan(l_quantity"), "quantity filter not pushed")
    assert(!p.contains("l_returnflag"), "unused column not pruned from scan")
  }

  test("q01: aggregation runs inside whole-stage codegen with partial aggs") {
    val df = SparkEntry.queries("q01_agg")(spark, sf)
    // partial (map-side) aggregation before the exchange
    val p = plan("q01_agg")
    assert(p.contains("HashAggregate"))
    assert(p.indexOf("HashAggregate") != p.lastIndexOf("HashAggregate"))
    // codegen stages only appear once AQE finalizes the plan — execute,
    // then look for the whole-stage-codegen '*' markers
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("), executed)
  }

  test("q03: dimension joins broadcast, no shuffle of the small side") {
    val p = plan("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q06: anti join stays a hash/merge join") {
    val p = plan("q06_anti_join")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e01/e02: knn joins broadcast the query side, never cartesian") {
    for (q <- Seq("e01_knn_brute", "e02_knn_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated to cartesian")
      assert(p.contains("Broadcast"), s"$q does not broadcast the small side")
    }
  }

  test("d07: LSH candidate join is an equi join on the band key") {
    val p = plan("d07_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Join") || p.contains("join"))
  }

  test("d06/d07/d09: self-join sides share one exchange (no double compute)") {
    // d09's reuse depends on SYMMETRIC alias projections in
    // nearDupPairs — an asymmetric raw-frame-vs-renamed join silently
    // recomputes the centroid assignment per side (broke once in r8)
    Seq("d06_jaccard_pairs", "d07_minhash_lsh", "d09_embed_neardup").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // AQE finalizes stage reuse only at execution
      assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
        s"$q: self-join pipeline computed twice")
    }
  }

  test("d12: repetition signals stay narrow — zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every signal (dup ratios, top-gram mass via sorted-run fold) is a
    // function of ONE row; a per-document statistic must never plan a
    // corpus exchange
    val df = SparkEntry.queries("d12_repetition")(spark, sf)
    df.collect()
    assert(!flatten(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeExec]),
      "per-document statistic planned a corpus exchange")
  }

  test("the per-row operator family plans zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every one of these is a function of single rows (plus unions of
    // such) — a shuffle appearing in any of them is a plan regression
    // at ANY scale, not a tuning threshold
    val narrow = Seq(
      "d02_token_count", "d03_quality", "d04_langid", "d05_fingerprint",
      "d08_simhash", "d10_winnow_fingerprint", "d12_repetition",
      "d19_upsample", "d21_redact_pii",
      "q14_hash_hkey", "q29_posexplode", "q12_union",
      "mm01_media_features", "mm02_frame_sample", "mm03_resize",
      "mm04_av_features")
    narrow.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val shuffles = flatten(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles == 0, s"$q: narrow operator planned $shuffles shuffle(s)")
    }
  }

  test("d32: span dedup plans 3 exchanges and none of them carries text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the scale contract from Dedup.duplicatedSpans: gram-count agg +
    // occurrence re-key + per-doc window, then hash(doc_id) satisfies
    // both downstream groupBys — never MORE than 3 (AQE may legally
    // broadcast the count join below threshold and land at fewer; the
    // exact static count per sf is SHUFFLE_BASELINE's pin); occurrence
    // rows are (id, pos, hash) — corpus text must never ride an exchange
    val df = SparkEntry.queries("d32_dup_spans")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3,
      s"span dedup planned ${shuffles.size} exchanges (contract: <= 3)")
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        "corpus text column entered a shuffle")
    }
  }

  test("d36: rank machinery shares one range exchange, nothing else is corpus-keyed") {
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // rankByValue's scale contract: the offset aggregate and the rank
    // projection read the SAME range exchange (the narrow two-column
    // carrier exists precisely so pruning cannot de-canonicalize the
    // two subtrees); the only other exchange is the config-sized
    // per-partition offset window
    val df = SparkEntry.queries("d36_score_bands")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(flatten(plan).exists(_.isInstanceOf[ReusedExchangeExec]),
      "range exchange computed twice — rank carrier stopped being canonical")
    // distinct exchanges only: the default flatten descends into the
    // ReusedExchange and would count the shared range exchange twice
    val shuffles = graft.plans.PlanWalk.flatten(plan, intoReusedExchange = false)
      .collect { case s: ShuffleExchangeExec => s }
    val ranged = shuffles.filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
    assert(ranged.size == 1,
      s"expected exactly one range exchange, got ${ranged.size} of ${shuffles.size}")
    // the rest are config-sized: per-partition offset rows (post
    // partial-agg), two single-partition tinies (offset window, corpus
    // count) — none carries corpus-scale rows
    assert(shuffles.size <= 5,
      s"rank split planned ${shuffles.size} exchanges (contract: <= 5)")
  }

  test("q21: sketch aggregates stay within error bounds of exact answers") {
    val out = SparkEntry.queries("q21_approx_stats")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("hll_ok"), s"${r.getString(0)}: HLL out of bound")
      assert(r.getAs[Boolean]("median_ok"), s"${r.getString(0)}: median out of bound")
    }
  }

  test("v02: satellite dedup anti-join keeps pushdown-friendly shape") {
    val p = plan("v02_sat_rows")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e02: centroid assignment is narrow — only the top-k window shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // graft_argmax_cos assigns in one codegen'd pass; the cross-join +
    // row_number form it replaced shuffled corpus x C rows
    val df = SparkEntry.queries("e02_knn_ivf")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles.size <= 1,
      s"centroid assignment leaked a corpus exchange: ${shuffles.size} shuffles")
  }

  test("e04: multi-probe stays an equi join with a broadcast probe set") {
    val p = plan("e04_knn_multiprobe")
    assert(!p.contains("CartesianProduct"), "multi-probe degenerated to cartesian")
    assert(p.contains("Broadcast"), "probe set not broadcast")
  }

  test("q18: orderBy.limit collapses to TakeOrderedAndProject") {
    // a global sort before the limit would shuffle the whole input; the
    // top-k operator keeps per-partition heaps + one singleton exchange
    val p = plan("q18_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), "top-k must not plan a global sort")
  }

  test("f01: partition filter prunes directories at the scan") {
    val p = plan("f01_partitioned_prune")
    // the lang predicate must land in PartitionFilters (directory
    // pruning), not PushedFilters/post-scan row filtering
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(scanLine.contains("lang"), s"lang not a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      "partition column degraded to a data filter")
  }

  test("e07: refine stage-2 is bucket-pruned point lookups, no store shuffle") {
    val df = SparkEntry.queries("e07_knn_refine")(spark, sf)
    df.collect() // AQE finalizes the plan only at execution
    val executed = df.queryExecution.executedPlan.toString
    assert(!executed.contains("CartesianProduct"))
    assert(executed.contains("Broadcast"), "candidates/queries not broadcast")
    // the In(id) probe must reach the scan as a bucket filter (at this
    // fixture size the 250 candidate ids legitimately hit every bucket,
    // so strict pruning is pinned separately below with one query)
    assert(executed.contains("SelectedBucketsCount"),
      s"no bucket pruning in stage-2 scan:\n$executed")
    // ...and the only hash exchange left is the per-query top-k window
    val shuffles = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(executed).map(_.group(1)).toList
    assert(shuffles.forall(_ == "qid"),
      s"store-side shuffle leaked into the refine plan: $shuffles\n$executed")
  }

  test("vector-store point lookup prunes buckets for a narrow shortlist") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.Tables
    val base = Similarity.withNorm(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val cb = Similarity.pqTrainSampled(
      base.filter(col("vec_id") % 50 === 0), "vec_id", m = 8, maxCodewords = 16)
    spark.sql("CREATE DATABASE IF NOT EXISTS plan_vec")
    Similarity.buildVectorStore(base, "vec_id", "plan_vec.store", buckets = 32)
    // one query, shortlist 25: at most 25 ids -> at most 25 of 32 buckets
    val df = Similarity.knnPqRefineIndexed("plan_vec.store",
      Similarity.pqEncode(base, "vec_id", cb),
      base.filter(col("vec_id") < 1), "vec_id", cb, shortlist = 25, k = 5)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(executed)
    assert(pruned.isDefined, s"no bucket pruning in the store scan:\n$executed")
    assert(pruned.get.group(1).toInt < pruned.get.group(2).toInt,
      s"point probe scanned every bucket: ${pruned.get.matched}")
  }

  /** Shared executed-plan traversal (AQE/stage/subquery unwrap; an
    * InMemoryTableScan stays a leaf, so a FileScan absent from the
    * flattened set is proven to execute only inside the cache). */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.plans.PlanWalk.flatten(p)

  test("p02: the quality+LSH upstream executes once, cached at the split") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.sources.Tables
    // the WithRelease variant pins the same plan the p02 query runs,
    // and its handle lets the test drop the cache it materialized
    val (df, release) = graft.operators.Pipeline.pretrainPipelineWithRelease(
      Tables.documents(spark, sf), "text", "doc_id", "source")
    try {
      df.collect() // AQE finalizes the plan only at execution
      val nodes = flatten(df.queryExecution.executedPlan)
      // the quota sampler (and the packing prefix sum) re-read their
      // input by design — every one of those reads must hit the cache
      val cacheScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans >= 2, s"expected multiple cache reads, got $cacheScans")
      // ...and the documents scan must appear NOWHERE above the cache:
      // one upstream execution total, not one per consumer
      val docScans = nodes.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("documents")) => f
      }
      assert(docScans.isEmpty,
        s"documents scanned ${docScans.size}x outside the cached upstream")
    } finally release()
  }

  test("p05: the Gopher gate executes once, cached below strip/anti-join/pack") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.sources.Tables
    // the gate output has three consumers (span-occurrence index,
    // strip's text join, untouched anti-join) — every one must read
    // the cache, never re-run the gate over the scan
    val (df, release) = graft.operators.Pipeline.exactSubstrPipelineWithRelease(
      Tables.documents(spark, sf), "text", "doc_id", spanTokens = 8,
      seqLen = 512, bucketSize = 64)
    try {
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val cacheScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans >= 3, s"expected >= 3 cache reads, got $cacheScans")
      val docScans = nodes.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("documents")) => f
      }
      assert(docScans.isEmpty,
        s"documents scanned ${docScans.size}x outside the cached gate")
    } finally release()
  }

  test("p08: gate, strip, and clean corpus are cached; the final plan never rescans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.sources.Tables
    // three persisted frames (gate / strip / clean) and an eagerly-
    // localized stats artifact: by the time the packed output runs,
    // every consumer must read a cache — the documents scan appears
    // zero times in the final executed plan
    val (df, release) = graft.operators.Pipeline.webCurationPipelineWithRelease(
      Tables.documents(spark, sf), "text", "doc_id",
      org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
    try {
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val cacheScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans >= 2, s"expected cache reads in the pack plan, got $cacheScans")
      val docScans = nodes.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("documents")) => f
      }
      assert(docScans.isEmpty,
        s"documents scanned ${docScans.size}x outside the cached stages")
    } finally release()
  }

  test("p04: the gate+LSH+redact upstream executes once, cached before the mix") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.sources.Tables
    val (df, release) = graft.operators.Pipeline.fineWebPipelineWithRelease(
      Tables.documents(spark, sf), "text", "doc_id", "lang",
      mixTarget = 150, bucketSize = 64)
    try {
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      // the temperature mix reads its input twice (bucket counts +
      // row ranks) and packing once more — all must hit the cache
      val cacheScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans >= 2, s"expected multiple cache reads, got $cacheScans")
      // the documents scan (gate + banding upstream) must execute
      // nowhere above the cache
      val docScans = nodes.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("documents")) => f
      }
      assert(docScans.isEmpty,
        s"documents scanned ${docScans.size}x outside the cached upstream")
    } finally release()
  }

  test("incremental IVF append: the index side of the idempotence join never shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    import graft.operators.{BucketedStore, Similarity}
    import graft.sources.Tables
    // appendToIvfIndex's scale claim, pinned on the store's append
    // lookup (BucketedStore.freshRows — the one idempotence core every
    // family's append runs): the batch's (cid, id) keys enter as
    // planning-time literals, the index scan bucket-prunes to the
    // batch's cids with the id filter pushed down, and the index side
    // never shuffles (the lookup is collected and re-enters the
    // anti-join as a broadcast local frame, batch-sized; the
    // zero-shuffle argmax assignment upstream).
    // A naive (cid, id) anti-join against the table re-shuffles the
    // whole index on the composite key instead (measured; the hash(cid)
    // buckets don't co-partition it) — this pin is what fails if that
    // shape sneaks back.
    // AQE stays ON (the session default): the non-adaptive preparation
    // path runs DisableUnnecessaryBucketedScan, which turns off the
    // bucketed scan (and with it the pruning metadata) whenever no
    // operator above needs the hash(cid) distribution — under AQE the
    // bucketed scan and its SelectedBucketsCount survive, which is the
    // execution path the engine actually runs
    {
      spark.sql("CREATE DATABASE IF NOT EXISTS sim_idx")
      val base = Similarity.withNorm(
        Tables.embeddings(spark, sf), "vec_id", "embedding")
      val cents = base.filter(col("vec_id") % 100 === 0)
      // 32 buckets over 5 centroids: the batch's cids cover at most 5
      // buckets, so pruning has real benefit. The batch OVERLAPS
      // the table (350..399 already present): with a disjoint batch the
      // pruned index side is empty and AQE correctly elides the whole
      // anti-join, leaving nothing to pin.
      val tbl = "sim_idx.ivf_append_pin"
      Similarity.buildIvfIndex(
        Similarity.assignToCentroids(base.filter(col("vec_id") < 400), cents,
          "vec_id"), tbl, buckets = 32)
      // the exact rows appendToIvfIndex hands the store
      val rows = Similarity.assignToCentroids(
          base.filter(col("vec_id") >= 350).dropDuplicates(Seq("vec_id")),
          cents, "vec_id")
        .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
      val grain = Seq("cid", "vec_id")
      val layout = BucketedStore.open(spark, tbl, "QueryPlanSpec",
        Some("cid"))
      val keyRows = rows.select(
        BucketedStore.lookupCols(layout, grain).map(col): _*).collect()
      val (fresh, lookup) = BucketedStore.freshRows(spark, tbl, layout,
        grain, rows, keyRows.toSeq, "QueryPlanSpec")
      fresh.collect()
      // the index side: the pinned existence read's executed plan
      val indexPlan = lookup.queryExecution.executedPlan
      val tableScan = flatten(indexPlan).collectFirst {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f }
      assert(tableScan.isDefined,
        s"index side is not a bucketed scan:\n$indexPlan")
      // pruning is ENGAGED (SelectedBucketsCount present) — how many
      // buckets survive depends on which cids the batch happens to hit
      assert(tableScan.get.metadata.contains("SelectedBucketsCount"),
        s"index scan did not bucket-prune: ${tableScan.get.metadata}")
      // ("n out of 32" with n < 32: the batch's cids really did prune)
      assert("(\\d+) out of (\\d+)".r
          .findFirstMatchIn(tableScan.get.metadata("SelectedBucketsCount"))
          .exists(m => m.group(1).toInt < m.group(2).toInt),
        s"index scan read every bucket: ${tableScan.get.metadata}")
      assert(!flatten(indexPlan).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"the index side must be shuffle-free point lookups:\n$indexPlan")
      // the append's anti-join reads the collected lookup rows as a
      // local frame — still no shuffle on the index side
      val plan = fresh.queryExecution.executedPlan
      val anti = flatten(plan).collectFirst {
        case j: BaseJoinExec if j.joinType.toString == "LeftAnti" => j }
      assert(anti.isDefined, s"no anti join in:\n$plan")
      assert(!flatten(anti.get.right).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"the index side must be shuffle-free point lookups:\n${anti.get.right}")
      // the ONLY shuffle anywhere is the batch's own dropDuplicates —
      // micro-batch-sized by contract; the corpus never moves
      val shuffles = flatten(plan).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size <= 1 && shuffles.forall(
          _.outputPartitioning.toString.contains("vec_id")),
        s"unexpected shuffles in the append plan:\n$plan")
    }
  }

  /** Run `body` with broadcast joins and AQE off, so a join plans its
    * shuffled path and the executed plan is the compiled one. */
  private def withShuffledJoins[T](body: => T): T = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  /** `df`'s dedup anti-join reads its vault side as a bucketed scan with
    * no Exchange; only the batch side shuffles, to the vault's bucket
    * partitioning. */
  private def assertVaultSideUnshuffled(df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    df.collect()
    val plan = df.queryExecution.executedPlan
    val anti = flatten(plan).collectFirst {
      case j: BaseJoinExec if j.joinType.toString == "LeftAnti" => j }
    assert(anti.isDefined, s"$what: no anti join in:\n$plan")
    val vaultSide = flatten(anti.get.right)
    assert(vaultSide.collectFirst { case f: FileSourceScanExec
        if f.relation.bucketSpec.isDefined => f }.isDefined,
      s"$what: vault side is not a bucketed scan:\n${anti.get.right}")
    assert(!vaultSide.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"$what: vault side re-shuffled despite bucketBy:\n${anti.get.right}")
    assert(flatten(anti.get.left).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"$what: batch side should shuffle to the vault's bucket partitioning")
  }

  /** The data files under `table`'s catalog location. */
  private def dataFiles(table: String): Int = {
    val dir = new java.io.File(java.net.URI.create(
      graft.operators.BucketedStore.metadata(spark, table).location.toString))
    Option(dir.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
  }

  test("bucketed vault sides of the hub+sat dedup anti-joins arrive shuffle-free") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.StringType
    import graft.vault._
    import spark.implicits._
    // SCALING.md's core claim for the loaders: BucketedStore.save buckets
    // vault tables by the dedup keys, so the anti-join's vault side is a
    // bucket scan needing no Exchange — only the batch shuffles.
    // Broadcast + AQE off so the shuffled path is what gets planned.
    withShuffledJoins {
      val config = RawVaultConfig(
        stagingBasePath = graft.TestScratch.dir("graft-bkt"),
        stagingPreparedDatabase = "plan_bkt_stg",
        rawDatabase = "plan_bkt_raw",
        partitionSize = 4)
      implicit val c: Conventions = config.conventions
      val clock = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      val vault = new RawVault(spark, config, "plan_bkt", clock)
      vault.initializeDatabase()
      val nameAttr = Seq(ColumnDefinition("NAME", StringType))
      vault.createHub("ENTITY", Seq(ColumnDefinition("PublicID", StringType)))
      vault.createSatellite("ENTITY", nameAttr)
      def prepared(ids: Range) = RawVaultOps.prepareStaged(
        ids.map(i => (0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"e$i", s"name$i"))
          .toDF("OPERATION", "LOAD_DATE", "PublicID", "NAME"),
        "plan_bkt", "LOAD_DATE", "OPERATION", Seq("PublicID"))
      vault.loadHub(prepared(0 until 50), "ENTITY", Seq("PublicID"),
        Seq(SatelliteDefinition(c.satName("ENTITY"), nameAttr)))

      val stamped = RawVaultOps.stampForLoad(prepared(25 until 75), "plan_bkt", clock)
      // the write is task-aligned to buckets: one load appends at most
      // one file per bucket, not one per (task x bucket). The location
      // comes from the CATALOG (the on-disk dir name is lowercased —
      // a hand-built uppercase path would not exist and the assertion
      // would pass vacuously)
      val hubDir = new java.io.File(java.net.URI.create(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            c.hubName("ENTITY"), Some(config.rawDatabase))).location.toString))
      val parts = Option(hubDir.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
      assert(parts >= 1, s"no data files found under $hubDir — vacuous pin")
      assert(parts <= 2 * config.partitionSize,
        s"bucketed write not task-aligned: $parts files for ${config.partitionSize} buckets")
      // hub: anti-join on HKEY, table bucketed by HKEY
      assertVaultSideUnshuffled(RawVaultOps.newHubRows(stamped,
        spark.table(s"${config.rawDatabase}.`${c.hubName("ENTITY")}`"),
        Seq("PublicID")), "hub")
      // satellite: anti-join on (HKEY, LOAD_DATE), bucketed by both
      assertVaultSideUnshuffled(RawVaultOps.newSatelliteRows(stamped,
        spark.table(s"${config.rawDatabase}.`${c.satName("ENTITY")}`"),
        Seq("NAME")), "satellite")
    }
  }

  test("vault loads take each table's bucket layout from the catalog, not the config") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.StringType
    import graft.operators.BucketedStore
    import graft.vault._
    import spark.implicits._
    withShuffledJoins {
      val created = RawVaultConfig(
        stagingBasePath = graft.TestScratch.dir("graft-layout"),
        stagingPreparedDatabase = "plan_layout_stg",
        rawDatabase = "plan_layout_raw",
        partitionSize = 4)
      implicit val c: Conventions = created.conventions
      val clock = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      val nameAttr = Seq(ColumnDefinition("NAME", StringType))
      val sat = SatelliteDefinition(c.satName("ENTITY"), nameAttr)
      val creator = new RawVault(spark, created, "plan_layout", clock)
      creator.initializeDatabase()
      creator.createHub("ENTITY", Seq(ColumnDefinition("PublicID", StringType)))
      creator.createSatellite("ENTITY", nameAttr)
      creator.createCodeReferenceTable("CODES",
        ColumnDefinition("CODE", StringType), nameAttr)
      val tables = Seq(c.hubName("ENTITY"), c.satName("ENTITY"),
        c.effectivitySatName(c.hubName("ENTITY")), c.refName("CODES"))
        .map(t => s"${created.rawDatabase}.`$t`")

      def batch(ids: Range, day: Int) =
        ids.map(i => (0, java.sql.Timestamp.valueOf(s"2024-01-0$day 00:00:00"),
            s"e$i", s"name$i"))
          .toDF("OPERATION", "LOAD_DATE", "PublicID", "NAME")
      // a re-configured vault over the same databases: 8 buckets, then
      // none — each load must follow the tables' 4-bucket catalog spec
      for ((config, day) <- Seq(created.copy(partitionSize = 8) -> 2,
          created.copy(optimizePartitioning = false) -> 3)) {
        val vault = new RawVault(spark, config, "plan_layout", clock)
        val before = tables.map(dataFiles)
        val rows = batch(day * 20 until day * 20 + 40, day)
        vault.loadHub(RawVaultOps.prepareStaged(rows, "plan_layout",
          "LOAD_DATE", "OPERATION", Seq("PublicID")), "ENTITY", Seq("PublicID"),
          Seq(sat))
        vault.loadCodeReferences(RawVaultOps.prepareStaged(
            rows.withColumnRenamed("PublicID", "CODE"), "plan_layout",
            "LOAD_DATE", "OPERATION"),
          "CODES_SRC", "CODES", "CODE", Seq("NAME"))
        for ((t, n) <- tables.zip(before)) {
          assert(BucketedStore.catalogLayout(spark, t).map(_.buckets)
            .contains(4), s"$t lost its 4-bucket spec in a load through $config")
          val added = dataFiles(t) - n
          assert(added >= 1 && added <= 4,
            s"$t: a load through $config added $added files to 4 buckets")
        }
        val stamped = RawVaultOps.stampForLoad(RawVaultOps.prepareStaged(
          batch(0 until 100, 9), "plan_layout", "LOAD_DATE", "OPERATION",
          Seq("PublicID")), "plan_layout", clock)
        assertVaultSideUnshuffled(RawVaultOps.newSatelliteRows(stamped,
          spark.table(tables(1)), Seq("NAME")), s"satellite via $config")
      }
    }
  }

  test("persisted-IVF probe never shuffles the corpus side") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.Tables
    val base = Similarity.withNorm(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val assigned = Similarity.assignToCentroids(
      base, base.filter(col("vec_id") % 50 === 0), "vec_id")
    spark.sql("CREATE DATABASE IF NOT EXISTS plan_idx")
    Similarity.buildIvfIndex(assigned, "plan_idx.ivf_probe", buckets = 4)
    val df = Similarity.probeIvfIndex(spark, "plan_idx.ivf_probe",
      col("vec_id") < 5, "vec_id", 3)
    df.collect() // AQE finalizes the plan only at execution
    val executed = df.queryExecution.executedPlan.toString
    // the probe set broadcasts; the only data shuffle is the top-k
    // window on qid over the already-probed candidates
    assert(executed.contains("BroadcastHashJoin"), executed)
    val shuffles = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(executed).map(_.group(1)).toList
    assert(shuffles.forall(_ == "qid"),
      s"corpus-side shuffle leaked into the probe plan: $shuffles\n$executed")
  }
}
