package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one storage lifecycle behind every persisted index family: the
  * band index, keyed side tables, the IVF index, PQ codes and the
  * vector store. Each is a catalog table bucketed by its probe key, and
  * this object is the only code that knows how such a table is laid
  * out, written, made idempotent, tombstoned, compacted and healed. It
  * is also the raw vault's writer ([[save]]): every vault table and
  * staging table is created, staged and appended through the same
  * task-aligned bucketed write, in the layout its catalog entry holds.
  * A bucketed write, and a bucket-pruned read whose rows are collected,
  * runs `min(buckets, cores)` tasks, each holding whole buckets
  * ([[coalesceToCores]]): files per bucket and bucket contents are
  * those of one task per bucket, without its per-task launch cost.
  * Every family's probe reads the same way: the pruned scan, pinned,
  * materialized by one bounded collect and returned as a local frame
  * ([[collectPinned]]).
  *
  *  - '''open''' — every entry point of every family: heal an
  *    interrupted compaction swap, check the bucket spec, return the
  *    catalog [[Layout]];
  *  - '''rebuild''' — drop the table and its tombstones, write one
  *    task-aligned file per bucket, stamp the vector width;
  *  - '''append''' — at-least-once delivery, exactly-once table effect:
  *    the batch's keys become planning-time literals, and ONE read —
  *    the idempotence lookup, compiled inside the conf window and
  *    asserted to bucket-prune, beside the tombstone guard — is
  *    collected, bounded by the batch's keys; only the rows it did not
  *    find are appended, in the catalog's layout (no checkpoint);
  *  - '''tombstones''' — logical deletes in a `__tombstones` side table,
  *    excluded by every probe before ranking, refused on re-append,
  *    written from one capped driver-side read of the delete set and
  *    the pending set;
  *  - '''compact''' — fold every bucket back to one file, applying the
  *    pending tombstones, committed through [[StagedReplace]].
  *
  * The families keep only their own logic (banding, centroid
  * assignment, PQ encoding, codebook identity). Single-writer, like
  * every graft maintenance pass: compaction runs between deliveries.
  */
private[graft] object BucketedStore {

  /** A bucketed table's catalog layout. The index families bucket by
    * one probe key; vault tables by their dedup keys. */
  final case class Layout(bucketCols: Seq[String], buckets: Int,
      sortCols: Seq[String] = Nil)

  private def fromSpec(spec: Option[BucketSpec]): Option[Layout] =
    spec.map(s => Layout(s.bucketColumnNames, s.numBuckets, s.sortColumnNames))

  /** The catalog layout of `table` (`None`: not bucketed) — one
    * driver-side metadata read, no Spark job. */
  def catalogLayout(spark: SparkSession, table: String): Option[Layout] =
    fromSpec(metadata(spark, table).bucketSpec)

  /** The catalog layout of the table `df` reads — `None` unless `df` is
    * a plain read of a bucketed catalog table (`spark.table`), so a
    * derived or in-memory frame never steers a caller's alignment. */
  def layoutOf(df: DataFrame): Option[Layout] =
    EliminateSubqueryAliases(df.queryExecution.analyzed) match {
      case r: LogicalRelation => fromSpec(r.catalogTable.flatMap(_.bucketSpec))
      case _ => None
    }

  /** `rows` hash-partitioned the way `layout` buckets them — the
    * partitioning a bucketed scan of the table reports, so a join
    * against that scan shuffles only `rows`, and a write writes one
    * file per bucket. */
  private def alignToBuckets(rows: DataFrame, layout: Layout): DataFrame =
    rows.repartition(layout.buckets, layout.bucketCols.map(col): _*)

  /** `rows`, which hold at most one bucket per partition (an aligned
    * batch, or a bucketed scan of the table), in `min(buckets, cores)`
    * partitions: the tasks a bucketed write or a bucket-pruned collected
    * read runs. Spark otherwise runs one task per bucket whatever the
    * data size, so a 500-row append to a 32-bucket table on 4 cores paid
    * 8 waves of task launch and task deserialization (SCALING.md "Tasks
    * per bucketed write and probe"). A coalesce, not a shuffle: each
    * task holds whole buckets, so a write still emits one file per
    * bucket and a pruned scan still reads only the selected buckets.
    * `rows` is returned as is when there are no more buckets than
    * cores: such plans carry no coalesce at all. */
  def coalesceToCores(rows: DataFrame, layout: Layout): DataFrame = {
    val n = rows.sparkSession.sparkContext.defaultParallelism
    if (n < layout.buckets) rows.coalesce(n) else rows
  }

  /** `rows` aligned to the buckets of the table `existing` reads
    * ([[layoutOf]]; unchanged when it reads none): a dedup anti-join
    * against `existing` then shuffles only `rows` and meets the table
    * as it lies, whatever bucket count it was created with. */
  def alignedTo(existing: DataFrame, rows: DataFrame): DataFrame =
    layoutOf(existing).fold(rows)(alignToBuckets(rows, _))

  /** Serving stamp: the table's vector width, read by probes off the
    * catalog (one driver call, no Spark job). */
  val DimProp = "graft.dim"

  // ---- engine lock and conf window

  private val lock = new Object

  /** Run `body` under the engine's ONE maintenance lock — every conf
    * window, compaction swap, heal and tombstone write synchronizes on
    * it (a tombstone append landing between a compaction's tombstone
    * read and its truncate would otherwise be wiped unapplied).
    * Reentrant (JVM monitor). */
  def withBandLock[T](body: => T): T = lock.synchronized(body)

  /** Run `body` with the session-global auto-bucketed-scan heuristic
    * OFF, under [[withBandLock]]. The heuristic keeps a bucketed scan
    * only for its output distribution, so it would discard the In(key)
    * bucket pruning every point lookup here relies on; and the flip is
    * session-global, so two windows on different locks could
    * interleave save/flip/restore and leave it flipped. */
  def withAutoBucketedScanOff[T](spark: SparkSession)(body: => T): T =
    withBandLock {
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val old = spark.conf.get(key)
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, old)
    }

  /** Compile `df`'s physical plan inside the conf window, assert the
    * compiled plan bucket-prunes its scan of `table` (a mis-built
    * table refuses loudly instead of full-scanning at corpus size), then
    * `materialize` it OUTSIDE the window: `executedPlan` is a cached
    * lazy val, so materializing `df` itself (a collect — never a
    * derived frame, which would re-plan) only runs the compiled plan,
    * and the lock covers compilation alone, never the job. Every
    * pinned read is collected: the append's existence read
    * ([[freshRows]]) and the probes' ([[collectPinned]]). The assert is repeated on the executed plan: under AQE,
    * re-optimization runs with the conf restored, and a Spark version
    * whose stage-preparation rules drop the bucketed scan would
    * otherwise pass the compile-time check on a plan it never ran.
    * (`SelectedBucketsCount` marks a bucketed scan with its bucket set —
    * "n out of n" when the literal keys hash to every bucket.) */
  def pinBucketedScan[T](spark: SparkSession, df: DataFrame, table: String,
      context: String)(materialize: DataFrame => T): T = {
    def prunes =
      df.queryExecution.executedPlan.toString.contains("SelectedBucketsCount")
    withAutoBucketedScanOff(spark) {
      require(prunes,
        s"$context: the scan of $table did not bucket-prune — the table " +
          "must be bucketed by its probe key (a buildBandIndex/" +
          "buildKeyedTable product); refusing to run a full-index-scan probe")
    }
    val out = materialize(df)
    require(prunes,
      s"$context: the EXECUTED plan against $table lost its bucket " +
        "pruning (AQE re-optimization re-ran DisableUnnecessaryBucketedScan " +
        "with the restored conf?) — the probe that just ran full-scanned " +
        "the index; this Spark version's stage-preparation rules are " +
        "incompatible with the compile-inside-the-conf-window device")
    out
  }

  /** The probes' one materialization: `df`, a read of `table` over
    * literal probe keys, pinned to bucket-prune ([[pinBucketedScan]]),
    * collected once under `cap` ([[DriverBounded.collectBounded]]:
    * `overCap` says what to do past it) and returned as a local frame,
    * so whatever derives from it re-plans from the collected rows,
    * never from the table, and nothing stays on executors. A `cap` of 0
    * means nothing was probed (an empty literal set folds the scan
    * away, leaving no plan to pin): an empty frame, and no job. */
  def collectPinned(spark: SparkSession, df: DataFrame, table: String,
      context: String, cap: Long, overCap: => String): DataFrame = {
    val rows =
      if (cap == 0) Array.empty[Row]
      else pinBucketedScan(spark, df, table, context)(
        DriverBounded.collectBounded(_, cap, s"$context: $overCap"))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  // ---- open

  /** Entry-point check for every read and write of a bucketed table:
    * complete an interrupted compaction ([[StagedReplace.healTable]]:
    * one catalog lookup when nothing was interrupted), then require the
    * table to be bucketed (by exactly `key` when given — the metadata
    * complement of the compiled-plan assert, covering paths where no
    * plan exists to inspect) and return its catalog layout, so no
    * layout-preserving write needs a bucket parameter. */
  def open(spark: SparkSession, table: String, context: String,
      key: Option[String] = None): Layout = {
    StagedReplace.healTable(spark, table)
    require(spark.catalog.tableExists(table),
      s"$context: $table does not exist")
    val layout = catalogLayout(spark, table)
    require(layout.exists(l => key.forall(k => l.bucketCols == Seq(k))),
      s"$context: table $table is not ${key.fold("")(_ + "-")}bucketed " +
        s"(layout=$layout) — not a buildBandIndex/buildKeyedTable " +
        "product; a probe against it could not bucket-prune at any scale")
    layout.get
  }

  // ---- rebuild

  /** Persist `rows` as `table`, bucketed by `key` with one task-aligned
    * file per bucket ([[save]]; `aligned` says `rows` is already
    * hash-partitioned that way). The table and its tombstones are
    * dropped first: a stale tombstone side table would silently hide
    * rebuilt rows from every probe. `stamps` and, when `widthOf` names
    * a vector column, its width ([[DimProp]], one tiny job) are stamped
    * so serving guards read them off the catalog. */
  def rebuild(rows: DataFrame, table: String, key: String, buckets: Int,
      sortCols: Seq[String] = Nil, stamps: Map[String, String] = Map.empty,
      widthOf: Option[String] = None, aligned: Boolean = false): Unit = {
    val spark = rows.sparkSession
    dropTableAndLocation(spark, table)
    dropTableAndLocation(spark, tombstoneTable(table))
    save(spark, table, Some(Layout(Seq(key), buckets, sortCols)), rows,
      "overwrite", aligned)
    val props = stamps ++ widthOf.map(storedDim(spark, table, _))
      .filter(_ > 0).map(w => DimProp -> w.toString)
    if (props.nonEmpty) stampTableProps(spark, table, props)
  }

  /** The one bucketed write: `rows` task-aligned to `layout` first, so
    * each write emits one file per bucket instead of one per task ×
    * bucket (measured in SCALING.md "Vault loads": 32 files instead of
    * 1,024, and 4× faster), then run as at most one task per core
    * ([[coalesceToCores]]), each writing the buckets it holds. `aligned`
    * says `rows` already are aligned. */
  private def writer(rows: DataFrame, layout: Layout,
      aligned: Boolean = false) = {
    val w = coalesceToCores(
        if (aligned) rows else alignToBuckets(rows, layout), layout).write
      .bucketBy(layout.buckets, layout.bucketCols.head,
        layout.bucketCols.tail: _*)
    if (layout.sortCols.isEmpty) w
    else w.sortBy(layout.sortCols.head, layout.sortCols.tail: _*)
  }

  /** Write `rows` to `table` with `mode` through [[writer]] when
    * `layout` is given (a plain write otherwise: an unbucketed vault
    * table), then refresh `table` on `spark` — the caller's own
    * session, since `rows` may belong to a clone (streaming
    * `foreachBatch` hands micro-batches from one), and later reads on
    * `spark`, the next batch's dedup anti-join included, must see the
    * write (the reference's REFRESH TABLE idiom,
    * notebooks/load_raw.py:492). Outside the conf window: the vault's appends neither
    * bucket-prune nor race a compaction. */
  def save(spark: SparkSession, table: String, layout: Option[Layout],
      rows: DataFrame, mode: String, aligned: Boolean = false): Unit = {
    layout.fold(rows.write)(writer(rows, _, aligned))
      .mode(mode).saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  // ---- append

  /** The idempotent append: `rows` (projected to the table's columns)
    * minus the rows whose `grain` key is already in `table`. The grain
    * is each family's idempotence unit — the id for the band index
    * (a doc's bands land together), (cid, id) for IVF and PQ, the key
    * for keyed tables and the vector store; its last column is the id
    * the tombstone guard checks. The caller persists `rows` and
    * collects their [[lookupCols]] as `keyRows` under its own bound —
    * the collected literals must be exactly the rows the anti-join
    * later filters (a re-executed non-deterministic source could
    * otherwise slip uncollected keys past the lookup), and a family's
    * guards ride that one collect. Refuses a null key — the anti-join
    * never matches null, so a null-keyed row would re-append on every
    * redelivery — and a tombstoned id ([[freshRows]]). An empty key set
    * writes nothing. */
  def append(spark: SparkSession, table: String, layout: Layout,
      grain: Seq[String], rows: DataFrame, keyRows: Seq[Row],
      context: String): Unit = {
    val cols = lookupCols(layout, grain)
    for (i <- cols.indices) require(!keyRows.exists(_.isNullAt(i)),
      s"$context: null ${cols(i)} key in the batch — the idempotence " +
        "anti-join never matches null, so a null-keyed row would " +
        "re-append on every redelivery; filter or key-derive upstream")
    if (keyRows.nonEmpty)
      appendRows(spark, table, layout,
        freshRows(spark, table, layout, grain, rows, keyRows, context)._1)
  }

  /** The columns an append collects as literals: the grain plus the
    * bucket column, so the lookup prunes to the batch's buckets. */
  def lookupCols(layout: Layout, grain: Seq[String]): Seq[String] =
    (grain ++ layout.bucketCols).distinct

  /** The append's idempotence core: `rows` minus the grain keys already
    * in `table`, decided on the driver from ONE read. The collected
    * `keyRows` (the rows' [[lookupCols]]) re-enter the plan as
    * literals, so the lookup opens only the batch's buckets with the
    * filters pushed to parquet, in at most one task per core
    * ([[coalesceToCores]]); beside it, the batch's ids probe the
    * (configuration-sized) tombstone side table. The read is pinned
    * ([[pinBucketedScan]]) and collected — at most the batch's keys
    * plus its tombstoned ids — so a tombstoned id refuses before
    * anything is written (the idempotence anti-join would see the
    * still-present old row, absorb the new version, and the DELETED
    * value would serve again), and the rows it found re-enter as a
    * broadcast local frame: the anti-join never touches the table being
    * appended to. A plain anti-join against the table is not this
    * shape: the planner re-shuffles the whole table on the grain
    * (hash(cid) buckets do not co-partition a (cid, id) join). Returns
    * the fresh rows and the read whose plan was pinned. */
  def freshRows(spark: SparkSession, table: String, layout: Layout,
      grain: Seq[String], rows: DataFrame, keyRows: Seq[Row],
      context: String): (DataFrame, DataFrame) = {
    val cols = lookupCols(layout, grain)
    val values = cols.indices.map(i => keyRows.map(_.get(i)).distinct)
    val idCol = grain.last
    val lookup = coalesceToCores(spark.table(table)
      .filter(cols.zip(values)
        .map { case (c, vs) => col(c).isin(vs: _*) }.reduce(_ && _)), layout)
      .select(grain.map(col) :+ lit(false).as("__tomb"): _*)
    val tomb = tombstoneTable(table)
    val read =
      if (!spark.catalog.tableExists(tomb)) lookup
      else {
        val t = spark.table(tomb)
        lookup.unionByName(t.filter(col(t.columns.head)
            .isin(values(cols.indexOf(idCol)): _*))
          .select(col(t.columns.head).as(idCol), lit(true).as("__tomb")),
          allowMissingColumns = true)
      }
    val (tombstoned, found) = pinBucketedScan(spark, read, table, context)(
      _.collect()).partition(_.getBoolean(grain.size))
    require(tombstoned.isEmpty,
      s"$context: batch $idCol '${tombstoned.headOption.map(
        _.get(grain.size - 1)).orNull}' is tombstoned in $table — a " +
        "deleted id cannot re-enter until the delete is physically " +
        "applied (the idempotence anti-join would silently resurrect " +
        "the old row); run the family's compact first")
    val existing = spark.createDataFrame(
      java.util.Arrays.asList(
        found.map(r => Row(r.toSeq.init: _*)).distinct: _*),
      StructType(read.schema.fields.init))
    (rows.join(broadcast(existing), grain, "left_anti"), read)
  }

  /** Append `rows` in the table's catalog layout (bucket count, hash
    * family and sort spec all read from the catalog, so an append can
    * never diverge from the build), inside the conf window — appends
    * serialize with compaction swaps — then refresh. */
  def appendRows(spark: SparkSession, table: String, layout: Layout,
      rows: DataFrame): Unit = {
    withAutoBucketedScanOff(spark) {
      writer(rows, layout).mode("append").saveAsTable(table)
    }
    spark.catalog.refreshTable(table)
  }

  // ---- tombstones

  /** The tombstone side table of `table`: ids logically deleted (or
    * superseded) but still physically present until the next
    * [[compact]]. Its one column is the id, named by the first writer —
    * the side table is self-describing. */
  def tombstoneTable(table: String): String = table + "__tombstones"

  /** Create `table`'s empty tombstone side table, its id column typed
    * like the table's `idCol`, when absent. */
  def ensureTombstones(spark: SparkSession, table: String,
      idCol: String): Unit =
    if (!spark.catalog.tableExists(tombstoneTable(table)))
      spark.table(table).select(col(idCol)).limit(0)
        .write.saveAsTable(tombstoneTable(table))

  /** `df` minus `table`'s tombstoned rows — the probe-side exclusion: a
    * broadcast anti-join (pending deletes are configuration-bounded by
    * [[addTombstones]]) applied BEFORE any ranking, so deleted rows
    * neither surface nor displace live candidates. No side table → `df`
    * unchanged (one catalog call, no job). */
  def liveRows(spark: SparkSession, table: String, df: DataFrame,
      idCol: String): DataFrame = {
    val tomb = tombstoneTable(table)
    if (!spark.catalog.tableExists(tomb)) df
    else {
      val t = spark.table(tomb)
      df.join(broadcast(t.select(col(t.columns.head).as(idCol))),
        Seq(idCol), "left_anti")
    }
  }

  /** Ids logically deleted from `table` but not yet applied, as an
    * `idCol` frame — typed like the table's id column when no side
    * table exists yet. */
  def pendingDeletes(spark: SparkSession, table: String,
      idCol: String): DataFrame = {
    val tomb = tombstoneTable(table)
    if (spark.catalog.tableExists(tomb)) {
      val t = spark.table(tomb)
      t.select(col(t.columns.head).as(idCol))
    } else if (spark.catalog.tableExists(table) &&
        spark.table(table).columns.contains(idCol))
      spark.table(table).select(col(idCol)).limit(0)
    else spark.range(0).select(col("id").as(idCol)).limit(0)
  }

  /** Tombstone `ids` (an `idCol` frame) in `table`, decided on the
    * driver: tombstones broadcast into every probe, so the pending set
    * must stay configuration-sized, and both sets this needs are read
    * under `cap` — the distinct delete set, then (under the maintenance
    * lock, so a compaction's read-apply-truncate never interleaves) the
    * pending set. A null id (it would delete nothing) and a pending set
    * past `cap` refuse BEFORE anything is written (`capName` names the
    * caller's bound); ids already pending are skipped (re-deleting is a
    * no-op), and the fresh ones land as one tiny file. A crash
    * mid-write leaves partial tombstones the retry skips. */
  def addTombstones(spark: SparkSession, table: String, ids: DataFrame,
      idCol: String, cap: Int, capName: String, context: String): Unit = {
    def overCap =
      s"$context: pending deletes for $table would exceed $cap — " +
        "tombstones broadcast into every probe, so they must stay " +
        "configuration-sized; run the family's compact to apply and " +
        s"clear them, or raise $capName deliberately"
    val del = ids.select(col(idCol))
    val delRows = DriverBounded.collectCapped(del.distinct(), cap, overCap)
    require(!delRows.exists(_.isNullAt(0)),
      s"$context: null $idCol in the delete set — the probe exclusion " +
        "anti-join never matches null, so a null tombstone would " +
        "silently delete nothing; filter upstream")
    withBandLock {
      val tomb = tombstoneTable(table)
      val exists = spark.catalog.tableExists(tomb)
      val pending =
        if (!exists) Set.empty[Any]
        else DriverBounded.collectCapped(spark.table(tomb), cap, overCap)
          .map(_.get(0)).toSet
      val fresh = delRows.filterNot(r => pending.contains(r.get(0)))
      require(pending.size + fresh.length <= cap, overCap)
      if (fresh.nonEmpty || !exists) {
        val storedId = if (exists) spark.table(tomb).columns.head else idCol
        spark.createDataFrame(java.util.Arrays.asList(fresh: _*),
            StructType(Seq(del.schema(0).copy(name = storedId))))
          .coalesce(1).write.mode("append").saveAsTable(tomb)
        spark.catalog.refreshTable(tomb)
      }
    }
  }

  // ---- compact

  /** Fold `table` back to one file per bucket. Every append writes its
    * own task-aligned file set, so after N deliveries a bucket-pruned
    * probe opens N files per bucket and probe cost grows with
    * DELIVERIES, not data. The rewrite reads the layout from the
    * catalog, applies pending tombstones (a broadcast anti-join on the
    * side table's id column) and truncates them, and preserves the sort
    * spec and every `graft.*` stamp. It is zero-shuffle: the forced
    * bucketed scan claims the table's own partitioning, the repartition
    * elides, and each task rewrites one bucket (left to the heuristic,
    * the bucketed read would be dropped after the repartition was
    * elided against it, and compaction would GROW the file count).
    *
    * The rewrite commits through [[StagedReplace.replaceTable]], which
    * carries the stamps across, under the maintenance lock, and
    * [[open]] heals whatever a crash leaves. A probe plan compiled
    * before the swap fails loudly on the moved files, never silently
    * wrong. Idempotent. A crash between the swap and the truncate
    * leaves tombstones naming removed ids, which probes no-op on and
    * the next compact clears. */
  def compact(spark: SparkSession, table: String, context: String,
      key: Option[String] = None): Unit =
      DriverBounded.labeled(spark, s"compactBucketedTable:$table") {
    val layout = open(spark, table, context, key)
    withBandLock {
      val tomb = tombstoneTable(table)
      val applyTombs = spark.catalog.tableExists(tomb)
      val live = spark.table(table)
      val rows =
        if (!applyTombs) live
        else {
          val id = spark.table(tomb).columns.head
          live.join(broadcast(spark.table(tomb).select(col(id))), Seq(id),
            "left_anti").select(live.columns.map(col).toIndexedSeq: _*)
        }
      StagedReplace.replaceTable(spark, table) { stage =>
        withAutoBucketedScanOff(spark) {
          writer(rows, layout).mode("overwrite").saveAsTable(stage)
        }
      }
      if (applyTombs) { spark.sql(s"TRUNCATE TABLE $tomb"); () }
      // the serving-identity cache survives: rows, stamps and the PQ
      // `__codebook` side table are unchanged, and every hit is
      // re-validated against the carried-over codebook stamp
    }
  }

  // ---- storage helpers

  private def ident(spark: SparkSession, table: String) =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  def metadata(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(ident(spark, table))

  /** Drop `table` and clear a MANAGED location orphaned by a previous
    * session (a fresh metastore over a persistent warehouse dir blocks
    * CREATE otherwise), so builds are safely re-runnable. Only
    * warehouse-managed directories are deleted: an existing table's
    * catalog location unless EXTERNAL, else the default managed path —
    * exactly the orphaned-directory case. The table's serving-identity
    * cache entries die with it. */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    dropStorage(spark, table)
    Similarity.invalidateServingIdentity(table)
  }

  /** [[dropTableAndLocation]] without the cache invalidation — for the
    * live side of a staged swap ([[StagedReplace]]), which replaces the
    * table's files but not its identity: the stamps are carried across,
    * and every serving-identity hit is re-validated against them. */
  def dropStorage(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val toClear: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(table)) {
        val meta = metadata(spark, table)
        if (meta.tableType == CatalogTableType.MANAGED)
          Some(new org.apache.hadoop.fs.Path(meta.location))
        else None
      } else Some(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(ident(spark, table))))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    toClear.foreach { loc =>
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** One `graft.*` serving property off the catalog — a driver-side
    * metadata read, never a Spark job. */
  def tableProp(spark: SparkSession, table: String,
      key: String): Option[String] =
    metadata(spark, table).properties.get(key)

  /** Stamp `graft.*` serving properties onto `table`. Idempotent;
    * appends never clear TBLPROPERTIES and [[StagedReplace]] copies
    * them across every swap, so a stamp lives as long as the table. */
  def stampTableProps(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty && props.forall { case (k, v) =>
      k.startsWith("graft.") && !v.contains("'") })
    val kvs = props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kvs)")
    ()
  }

  /** The width of `vecCol` stamped on `table` under `prop`, falling
    * back to a null-safe one-row scan for a table stamped before the
    * property existed (0 when it holds no usable vector — callers
    * decide whether that is loud). */
  def storedDim(spark: SparkSession, table: String, vecCol: String,
      prop: String = DimProp): Int =
    tableProp(spark, table, prop).map(_.toInt).getOrElse {
      spark.table(table).select(size(col(vecCol)))
        .filter(col(vecCol).isNotNull).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    }

  /** Number of data files backing `table` — the quantity [[compact]]
    * exists to bound. Hidden files (`_SUCCESS`, dotfiles) excluded. */
  def fileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(metadata(spark, table).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(loc)) 0
    else fs.listStatus(loc).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
