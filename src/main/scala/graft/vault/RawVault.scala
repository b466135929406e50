package graft.vault

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.BucketedStore
import graft.operators.BucketedStore.{Layout, alignedTo}

/** Functional core of the raw-vault CDC loaders.
  *
  * Every function is a pure DataFrame transformation: it takes the staged
  * batch plus the current contents of the target vault table and returns
  * exactly the rows that must be APPENDED ("anti-join + append" idiom —
  * the reference's v3 semantics, RawVault.py:221-260,913-994,480-632).
  * This keeps the engine storage-agnostic, unit-testable without a
  * catalog, and idempotent: replaying a batch yields zero new rows.
  *
  * Scale notes: all dedup joins are `left_anti` on the (bucketable) hash
  * key, so with bucketed vault tables they become shuffle-free on one
  * side — the satellite and reference builders align the batch to the
  * bucket spec of the table `existing` reads ([[BucketedStore.alignedTo]]),
  * so only the batch shuffles; `distinct` is a partial-aggregate
  * (map-side combine) in Spark. No collect(), no driver-side loops over
  * data.
  */
object RawVaultOps {

  /** Dedup anti-join: `newRows` minus rows whose `keys` already exist in
    * `existing`. Both sides often derive from the same staged DataFrame
    * (sat/eff loads reuse the batch lineage), where bare parent-column
    * references would build a trivially-true `col == col` predicate and
    * correctness would hinge on the analyzer's self-join disambiguation —
    * explicit aliases make the condition unambiguous by construction. */
  private[vault] def antiExisting(newRows: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => col(s"e.`$k`") === col(s"n.`$k`")).reduce(_ && _)
    newRows.alias("n").join(existing.alias("e"), cond, "left_anti")
  }

  /** Normalize a raw source batch into the prepared-staging shape
    * (reference `stage_table_df`, RawVault.py:1015-1043): rename the
    * configured load-date / CDC-operation columns to the system names, tag
    * the record source, apply the snapshot load-date override, compute the
    * hash key. */
  def prepareStaged(
      df: DataFrame,
      sourceSystemName: String,
      loadDateColumn: String,
      operationColumn: String,
      hkeyColumns: Seq[String] = Nil,
      snapshotOverrideColumn: Option[String] = None)(
      implicit c: Conventions): DataFrame = {
    var out = df
      .withColumnRenamed(loadDateColumn, c.loadDate)
      .withColumnRenamed(operationColumn, c.operation)
      .withColumn(c.recordSource, lit(sourceSystemName))
    // snapshot rows (op < 1) carry their business timestamp (RawVault.py:1033-1038)
    snapshotOverrideColumn.filter(out.columns.contains) foreach { snap =>
      out = out.withColumn(
        c.loadDate,
        when(out(c.operation) < 1, out(snap)).otherwise(out(c.loadDate)))
    }
    if (hkeyColumns.nonEmpty)
      out = out.withColumn(c.hkey, Dv.hashNames(hkeyColumns))
    out
  }

  /** Stamp a staged batch for loading (reference load_hub prologue,
    * RawVault.py:237-240): preserve the CDC time in `$__CDC_LOAD_DATE`,
    * restamp `$__LOAD_DATE` with the technical load clock, and tag the
    * record source. `clock` is injectable for deterministic tests; the
    * reference behavior is `current_timestamp()`. */
  def stampForLoad(staged: DataFrame, sourceSystemName: String,
      clock: Column = current_timestamp())(implicit c: Conventions): DataFrame =
    staged
      .withColumn(c.cdcLoadDate, staged(c.loadDate))
      .withColumn(c.loadDate, clock)
      .withColumn(c.recordSource, lit(sourceSystemName))

  /** New hub rows: staged minus already-present HKEYs
    * (RawVault.py:247-257). */
  def newHubRows(staged: DataFrame, hub: DataFrame,
      businessKeyColumns: Seq[String])(implicit c: Conventions): DataFrame = {
    val cols = Seq(c.hkey, c.loadDate, c.recordSource) ++ businessKeyColumns
    RawVaultOps.antiExisting(staged, hub, Seq(c.hkey))
      .select(cols.map(col): _*)
      .distinct()
  }

  /** New satellite rows for one satellite definition
    * (RawVault.py:913-951): CDC ops {CREATE, UPDATE, SNAPSHOT}, load date
    * restored from CDC time, `$__HDIFF = md5(attrs)`, anti-join dedup on
    * (HKEY, LOAD_DATE). */
  def newSatelliteRows(staged: DataFrame, sat: DataFrame,
      attributes: Seq[String])(implicit c: Conventions): DataFrame = {
    val allowed = Seq(CdcOp.Create, CdcOp.Update, CdcOp.Snapshot)
    val cols = Seq(c.hkey, c.hdiff, c.loadDate) ++ attributes
    val out = alignedTo(sat, staged
      .filter(staged(c.operation).isin(allowed: _*))
      .withColumn(c.loadDate, staged(c.cdcLoadDate))
      .withColumn(c.hdiff, Dv.hashNames(attributes))
      .select(cols.map(col): _*))
    RawVaultOps.antiExisting(out, sat, Seq(c.hkey, c.loadDate))
      .distinct()
  }

  /** New effectivity-satellite rows (RawVault.py:953-994): CDC ops
    * {CREATE, DELETE, SNAPSHOT}; `$__DELETED = (op == DELETE)`;
    * `$__HDIFF = md5($__DELETED)`; anti-join dedup on (HKEY, LOAD_DATE). */
  def newEffectivityRows(staged: DataFrame, eff: DataFrame)(
      implicit c: Conventions): DataFrame = {
    val allowed = Seq(CdcOp.Create, CdcOp.Delete, CdcOp.Snapshot)
    val cols = Seq(c.hkey, c.hdiff, c.loadDate, c.deleted)
    // literal `1` matches the reference exactly (RawVault.py:973)
    val deletedCol = when(col(c.operation) === 1, true).otherwise(false)
    val out = alignedTo(eff, staged
      .filter(staged(c.operation).isin(allowed: _*))
      .withColumn(c.loadDate, staged(c.cdcLoadDate))
      .withColumn(c.deleted, deletedCol)
      .withColumn(c.hdiff, Dv.hash(Seq(col(c.deleted))))
      .select(cols.map(col): _*))
    RawVaultOps.antiExisting(out, eff, Seq(c.hkey, c.loadDate))
      .distinct()
  }

  /** New reference-table rows (RawVault.py:737-768). */
  def newReferenceRows(staged: DataFrame, ref: DataFrame, idColumn: String,
      attributes: Seq[String])(implicit c: Conventions): DataFrame = {
    val cols = Seq(idColumn, c.hdiff, c.loadDate) ++ attributes
    val out = alignedTo(ref, staged
      .withColumn(c.hdiff, Dv.hashNames(attributes))
      .select(cols.map(col): _*))
    RawVaultOps.antiExisting(out, ref, Seq(idColumn, c.loadDate))
      .distinct()
  }

  /** New code-reference rows, grouped by `$__GROUP = staging table name`
    * (RawVault.py:797-833). */
  def newCodeReferenceRows(staged: DataFrame, ref: DataFrame,
      groupName: String, idColumn: String, attributes: Seq[String])(
      implicit c: Conventions): DataFrame = {
    val cols = Seq(c.group, idColumn, c.hdiff, c.loadDate) ++ attributes
    val out = alignedTo(ref, staged
      .withColumn(c.hdiff, Dv.hashNames(attributes))
      .withColumn(c.group, lit(groupName.toLowerCase))
      .select(cols.map(col): _*))
    RawVaultOps.antiExisting(out, ref, Seq(idColumn, c.group, c.loadDate))
      .distinct()
  }

  /** Resolve each FK of a source-side link table against its hub and
    * attach the `<HUB>_HKEY` columns (RawVault.py:675-684). `hubs` maps
    * each link leg to the current hub DataFrame. */
  def resolveMultilinkHubKeys(staged: DataFrame,
      links: Seq[(LinkedHubDefinition, DataFrame)])(
      implicit c: Conventions): DataFrame =
    links.foldLeft(staged) { case (acc, (link, hub)) =>
      val hubSel = hub
        .withColumnRenamed(c.hkey, link.hkeyColumnName)
        .select(col(link.foreignKey.to.column), col(link.hkeyColumnName))
      val joined = acc
        .join(hubSel, hubSel(link.foreignKey.to.column) === acc(link.foreignKey.column), "left")
        .drop(hubSel(link.foreignKey.to.column))
      // mappings may name the link's hkey column after the source FK
      // column itself (imdb-mapping.yaml's castings legs) — drop the
      // staged FK column then, or every later reference is ambiguous
      if (link.hkeyColumnName == link.foreignKey.column)
        joined.drop(acc(link.foreignKey.column))
      else joined
    }

  /** Multilink load (RawVault.py:660-708) after FK resolution: stamp, hash
    * the member hub HKEYs into the link `$__HKEY`, dedup vs existing.
    * Returns (stamped staged for eff/sat loads, new link rows). */
  def newMultilinkRows(resolved: DataFrame, link: DataFrame,
      hkeyColumnNames: Seq[String], sourceSystemName: String,
      clock: Column = current_timestamp())(
      implicit c: Conventions): (DataFrame, DataFrame) = {
    val staged = resolved
      .withColumnRenamed(c.loadDate, c.cdcLoadDate)
      .withColumn(c.hkey, Dv.hashNames(hkeyColumnNames))
      .withColumn(c.loadDate, clock)
      .withColumn(c.recordSource, lit(sourceSystemName))
      .distinct()
    val cols = Seq(c.hkey, c.loadDate, c.recordSource) ++ hkeyColumnNames
    val newRows = RawVaultOps.antiExisting(staged, link, Seq(c.hkey))
      .select(cols.map(col): _*)
      .distinct()
    (staged, newRows)
  }

  /** 2-way FK link load with effectivity reconciliation — the reference's
    * hardest function (RawVault.py:480-632), ported behavior-first.
    *
    * @param stagedFrom  prepared staging batch of the FK-owning entity
    * @param toStaged    prepared staging batch of the FK target (HKEY computed)
    * @param toHubFallback/toSatFallback  current hub+sat of the target —
    *        entities absent from this batch resolve through them
    * @param linkDf/effDf current LNK / SAT__EFFECTIVITY contents
    * @return (new link rows, new effectivity rows, unpersist handle) —
    *         the caller MUST invoke the handle after consuming both
    *         frames, or the four cached intermediates pin executor
    *         storage for the session lifetime.
    */
  def linkLoad(
      stagedFrom: DataFrame,
      foreignKey: ForeignKey,
      toStaged: DataFrame,
      toHubFallback: DataFrame,
      toSatFallback: DataFrame,
      linkDf: DataFrame,
      effDf: DataFrame,
      fromHkeyColumnName: String,
      toHkeyColumnName: String)(
      implicit c: Conventions): (DataFrame, DataFrame, () => Unit) = {

    val fromDf = stagedFrom
      .filter(col(c.operation) === CdcOp.Update ||
        col(c.operation) === CdcOp.Create ||
        col(c.operation) === CdcOp.Snapshot)
      .withColumnRenamed(c.hkey, fromHkeyColumnName)
      .cache()

    val fromWithLink = fromDf.filter(col(foreignKey.column).isNotNull)

    val toDf = toStaged
      .select(col(c.hkey), col(foreignKey.to.column))
      .withColumnRenamed(c.hkey, toHkeyColumnName)

    val joined = fromWithLink
      .join(toDf, fromWithLink(foreignKey.column) === toDf(foreignKey.to.column), "left")
      .cache()

    // fallback: linked entities absent from the batch resolve via hub(+sat)
    // (RawVault.py:530-536)
    val toFallback = toHubFallback
      .join(toSatFallback,
        toHubFallback(c.hkey) === toSatFallback(c.hkey), "left")
      .select(toHubFallback(c.hkey), col(foreignKey.to.column))
      .withColumnRenamed(c.hkey, toHkeyColumnName)

    val outCols = Seq(col(fromHkeyColumnName), col(toHkeyColumnName),
      fromWithLink(c.loadDate), fromWithLink(c.recordSource))

    val linkedDf = joined
      .filter(col(toHkeyColumnName).isNotNull)
      .select(outCols: _*)
      .union(joined
        .filter(col(toHkeyColumnName).isNull)
        .drop(col(toHkeyColumnName))
        .join(toFallback, fromWithLink(foreignKey.column) === toFallback(foreignKey.to.column))
        .select(outCols: _*)
        .filter(col(toHkeyColumnName).isNotNull))
      .withColumn(c.hkey, Dv.hashNames(Seq(fromHkeyColumnName, toHkeyColumnName)))
      .cache()

    // new LNK rows: exclude HKEYs already present (RawVault.py:563-567)
    val newLinkRows = RawVaultOps
      .antiExisting(linkedDf.dropDuplicates(Seq(c.hkey)), linkDf, Seq(c.hkey))
      .select(linkDf.columns.toSeq.map(col): _*)
      .cache()

    // effectivity: new pairs are live (RawVault.py:574-577)
    val effNew = linkedDf
      .withColumn(c.deleted, lit(false))
      .withColumn(c.hdiff, Dv.hash(Seq(col(c.deleted))))
      .select(effDf.columns.toSeq.map(col): _*)

    // pairs previously linked from these from-entities (RawVault.py:582-585).
    // Aliased projections everywhere: newLinkRows' lineage contains fromDf,
    // so parent-column references across the union would be ambiguous.
    val linkFull = linkDf.union(newLinkRows)
    val prevLinks = linkFull
      .join(fromDf.select(col(fromHkeyColumnName)).distinct(),
        Seq(fromHkeyColumnName), "left_semi")
      .select(col(c.hkey).as("prev_hkey"),
        col(fromHkeyColumnName).as("prev_from"),
        col(toHkeyColumnName).as("prev_to"))

    // staged rows whose FK became null participate as "linked to nothing"
    // (RawVault.py:588-600)
    val linkedWithNulls = linkedDf
      .select(col(fromHkeyColumnName).as("new_from"),
        col(toHkeyColumnName).as("new_to"), col(c.loadDate).as("new_load"))
      .union(fromDf
        .filter(fromDf(foreignKey.column).isNull)
        .select(col(fromHkeyColumnName).as("new_from"),
          lit(null).cast(StringType).as("new_to"),
          col(c.loadDate).as("new_load")))

    // theta join: detect re-pointed or nulled FKs (RawVault.py:603-611)
    val deleteOldLinks = prevLinks
      .join(linkedWithNulls,
        (col("prev_from") === col("new_from")) &&
          ((col("prev_to") =!= col("new_to")) ||
            (col("prev_to").isNotNull && col("new_to").isNull)))
      .select(col("prev_hkey").as(c.hkey),
        Dv.hash(Seq(lit(true))).as(c.hdiff),
        col("new_load").as(c.loadDate),
        lit(true).as(c.deleted))
      .select(effDf.columns.toSeq.map(col): _*)

    // suppress rows whose deleted-flag did not change (lag window,
    // RawVault.py:614-620), then anti-join vs existing effectivity
    val newEffRows = RawVaultOps.effStateDedup(effNew.union(deleteOldLinks), effDf)

    val unpersist = () => {
      Seq(fromDf, joined, linkedDf, newLinkRows).foreach(_.unpersist(blocking = false))
      ()
    }
    (newLinkRows, newEffRows, unpersist)
  }

  /** Shared effectivity tail (the linkLoad idiom, RawVault.py:614-620):
    * union candidate state rows with the RELEVANT existing effectivity
    * history, drop rows whose deleted-flag did not change, return only
    * rows absent from the current table. `newStates` must have effDf's
    * column set; the existing history is semi-joined down to the touched
    * hash keys first, so the window cost scales with the batch, not the
    * table. Ties on (hkey, loadDate) order by the deleted flag — a
    * deterministic order even if the table already holds contradictory
    * same-instant rows. */
  private[vault] def effStateDedup(newStates: DataFrame, effDf: DataFrame)(
      implicit c: Conventions): DataFrame = {
    val effCols = effDf.columns.toSeq
    val touched = newStates.select(col(c.hkey).as("t_hkey")).distinct()
    val relevant = effDf.join(touched, col(c.hkey) === col("t_hkey"), "left_semi")
    val w = Window.partitionBy(c.hkey).orderBy(col(c.loadDate), col(c.deleted))
    val effFull = newStates.select(effCols.map(col): _*)
      .union(relevant)
      .distinct()
      .withColumn("prev", lag(c.deleted, 1).over(w))
      .filter(col("prev") =!= col(c.deleted) || col("prev").isNull)
      .drop("prev")
    RawVaultOps.antiExisting(effFull, effDf, Seq(c.hkey, c.loadDate))
      .distinct()
  }

  /** Window-based link reconciliation — the semantics the reference's BDD
    * suite specifies for the metadata-driven API
    * (features/raw-vault.feature:247-452), generalizing the v3 theta-join
    * port in [[linkLoad]] (RawVault.py:574-632):
    *
    *  - an entity DELETE ends the entity's current link (the theta join
    *    never sees delete rows — they are filtered before it);
    *  - FK re-point / FK→null end the old pair and (re-point) start the
    *    new one;
    *  - a state change only affects the pair that was CURRENT at that
    *    time — the theta join pairs every previous link with every
    *    change event, which back-dates deletes onto links born later.
    *
    * Scale shape: the previous state is semi-joined down to the batch's
    * from-entities before anything is windowed, so load cost follows the
    * batch; ONE window exchange on the from-entity key replaces the
    * pair-exploding self-join; the lag-dedup/anti-join tail is
    * [[effStateDedup]], shared with [[linkLoad]].
    *
    * Convergence contract: after the load, each touched from-entity has
    * at most one live pair — including repair of contradictory prior
    * state (several live pairs) and late-arriving events, because
    * recorded live pairs participate in the chain and end-date their
    * predecessors. The one irreducible exception: two live pairs
    * recorded at the SAME instant stay both-live (ending one would
    * collide with its own live row on (HKEY, LOAD_DATE), which
    * replay-idempotency rejects); such state can only originate outside
    * this loader and repairs itself at the next genuine event.
    *
    * @param fkEvents one row per CDC event of the from-entity, columns
    *   (fromHkeyColumnName, toHkeyColumnName nullable, c.loadDate): live
    *   ops carry the resolved target hkey (null if the FK is null or
    *   unresolvable), DELETE ops carry null.
    * @param tieBreak total order for same-timestamp events of one
    *   entity — pass the CDC sequence if there is one, else the op code
    *   with deletes last. The LAST event at an instant defines the
    *   surviving state: contradictory same-instant transitions collapse
    *   to it instead of appending both. The default (lit(0)) falls back
    *   to ordering null targets (deletes) first.
    */
  def reconcileLinkStates(
      fkEvents: DataFrame,
      linkDf: DataFrame,
      effDf: DataFrame,
      fromHkeyColumnName: String,
      toHkeyColumnName: String,
      sourceSystemName: String,
      clock: Column = current_timestamp(),
      tieBreak: Column = lit(0))(
      implicit c: Conventions): (DataFrame, DataFrame) = {
    val fromC = col(fromHkeyColumnName)
    val toC = col(toHkeyColumnName)

    // restrict previous state to this batch's from-entities (the
    // linkLoad left_semi idiom) — everything below scales with the batch
    val batchFroms = fkEvents.select(fromC).distinct()
    val linkRel = linkDf.join(batchFroms, Seq(fromHkeyColumnName), "left_semi")

    // seed: the live pair per link hkey (latest effectivity state joined
    // back to the link members), entering the window at its eff date.
    // Same-instant ties resolve deleted-first, so a contradictory
    // history reads as dead (conservative: a later live event re-creates).
    val wEff = Window.partitionBy(c.hkey)
      .orderBy(col(c.loadDate).desc, col(c.deleted).desc)
    val live = effDf
      .join(linkRel.select(col(c.hkey).as("l_hkey")).distinct(),
        col(c.hkey) === col("l_hkey"), "left_semi")
      .withColumn("__rn", row_number().over(wEff))
      .filter(col("__rn") === 1 && !col(c.deleted))
      .select(col(c.hkey).as("__live_hkey"), col(c.loadDate).as("__live_ld"))
    // Every live pair of the entity enters the chain as a seed at its
    // recorded eff date. Seeds EMIT predecessor deletes like events do:
    // when prior state is contradictory (several live pairs) the later
    // recording end-dates the earlier one, and when a late-arriving
    // event orders before an already-recorded pair, that pair's seed
    // end-dates the event's pair at its recorded date — so the chain
    // converges to at most one live pair per entity without inventing
    // timestamps (each delete lands at a date that is genuinely in the
    // data). The single irreducible case is two live pairs recorded at
    // the SAME instant: ending one would collide with its own live row
    // on (HKEY, LOAD_DATE), which replay-idempotency must reject.
    // Seeds do NOT re-emit their own liveness (already in the table).
    val seeds = linkRel
      .join(live, col(c.hkey) === col("__live_hkey"), "inner")
      .select(fromC, toC, col("__live_ld").as(c.loadDate),
        lit(true).as("__seed"), lit(-1).as("__tb"))

    val evts = fkEvents.select(fromC, toC, col(c.loadDate),
      lit(false).as("__seed"), tieBreak.as("__tb"))

    val w = Window.partitionBy(fromHkeyColumnName)
      .orderBy(col(c.loadDate), col("__tb"), toC.asc_nulls_first)
    val marked = seeds.union(evts)
      .withColumn("__prev_to", lag(toHkeyColumnName, 1).over(w))
      .withColumn("__has_prev", lag(lit(1), 1).over(w))
      .withColumn("__seq", row_number().over(w))

    val deletes = marked
      .filter(col("__has_prev") === 1 &&
        col("__prev_to").isNotNull &&
        (toC.isNull || toC =!= col("__prev_to")))
      .select(Dv.hash(Seq(fromC, col("__prev_to"))).as(c.hkey),
        Dv.hash(Seq(lit(true))).as(c.hdiff),
        col(c.loadDate), lit(true).as(c.deleted), col("__seq"))
    val lives = marked
      .filter(!col("__seed") && toC.isNotNull)
      .select(Dv.hash(Seq(fromC, toC)).as(c.hkey),
        Dv.hash(Seq(lit(false))).as(c.hdiff),
        col(c.loadDate), lit(false).as(c.deleted), col("__seq"))

    // same pair, same instant: the LAST event wins — a create+delete in
    // one millisecond must not append contradictory rows
    val wInstant = Window.partitionBy(c.hkey, c.loadDate)
      .orderBy(col("__seq").desc)
    val candidates = lives.union(deletes)
      .withColumn("__irn", row_number().over(wInstant))
      .filter(col("__irn") === 1)
      .drop("__irn", "__seq")

    val newEffRows = RawVaultOps.effStateDedup(candidates, effDf)

    val newLinkRows = RawVaultOps.antiExisting(
        fkEvents.filter(toC.isNotNull)
          .select(fromC, toC).distinct()
          .withColumn(c.hkey, Dv.hashNames(Seq(fromHkeyColumnName, toHkeyColumnName)))
          .withColumn(c.loadDate, clock)
          .withColumn(c.recordSource, lit(sourceSystemName)),
        linkDf, Seq(c.hkey))
      .select(linkDf.columns.toSeq.map(col): _*)
      .distinct()

    (newLinkRows, newEffRows)
  }
}

/** Catalog-backed raw vault, mirroring the reference's public API surface
  * (SURVEY §2.12; RawVault.py). Tables are created empty with mode
  * `ignore` and appended via the anti-join functional core above. Every
  * write goes through [[BucketedStore.save]]. When `optimizePartitioning`
  * is on, the tables this vault creates, and its staging tables, are
  * bucketed by their dedup keys into `partitionSize` buckets, so
  * repeated anti-joins against the vault avoid re-shuffling the big
  * side. Loads take the layout from the catalog entry of the table they
  * write to, never from the config: a vault created with any layout
  * loads through any `RawVaultConfig` over the same databases.
  */
class RawVault(
    val spark: SparkSession,
    val config: RawVaultConfig,
    val sourceSystemName: String,
    clock: => Column = current_timestamp()) {

  implicit val conventions: Conventions = config.conventions
  private val c = conventions
  import RawVaultOps._

  private def rawTable(name: String): DataFrame =
    spark.table(s"${config.rawDatabase}.`$name`")
  private def stagedTable(name: String): DataFrame =
    spark.table(s"${config.stagingPreparedDatabase}.`$name`")

  /** The technical-load-date clock (injectable for deterministic tests). */
  def loadClock: Column = clock

  /** Append `rows` to the raw table `name` in the layout its catalog
    * entry holds (also used by the metadata-driven loader). */
  private[vault] def append(name: String, rows: DataFrame): Unit = {
    val table = s"${config.rawDatabase}.`$name`"
    BucketedStore.save(spark, table, BucketedStore.catalogLayout(spark, table),
      rows, "append")
  }

  /** The layout this vault creates a table with: bucketed by its dedup
    * `keys` into `partitionSize` buckets when `optimizePartitioning` is
    * on (RawVault.py:1068-1073). */
  private def creationLayout(keys: Seq[String]): Option[Layout] =
    if (config.optimizePartitioning && keys.nonEmpty)
      Some(Layout(keys, config.partitionSize))
    else None

  def initializeDatabase(): Unit = {
    spark.sql(VaultSql.createDatabase(
      config.stagingPreparedDatabase, config.stagingPreparedBasePath))
    spark.sql(VaultSql.createDatabase(config.rawDatabase, config.rawBasePath))
  }

  // ---- DDL (create-if-not-exists via empty DF + mode ignore,
  //      RawVault.py:64-185,1045-1075) ----

  private def createExternalTable(database: String, name: String,
      columns: Seq[ColumnDefinition], bucketColumns: Seq[String]): Unit = {
    val schema = StructType(columns.map(_.toField))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    BucketedStore.save(spark, s"$database.`$name`", creationLayout(bucketColumns),
      df, "ignore")
  }

  def createHub(name: String, businessKeyColumns: Seq[ColumnDefinition]): Unit = {
    val columns = Seq(
      ColumnDefinition(c.hkey, StringType),
      ColumnDefinition(c.loadDate, TimestampType),
      ColumnDefinition(c.recordSource, StringType)) ++ businessKeyColumns
    createExternalTable(config.rawDatabase, c.hubName(name), columns, Seq(c.hkey))
    createEffectivitySatellite(c.effectivitySatName(name))
  }

  def createLink(name: String, hkeyColumnNames: Seq[String]): Unit = {
    val columns = Seq(
      ColumnDefinition(c.hkey, StringType),
      ColumnDefinition(c.loadDate, TimestampType),
      ColumnDefinition(c.recordSource, StringType)) ++
      hkeyColumnNames.map(ColumnDefinition(_, StringType))
    createExternalTable(config.rawDatabase, c.linkName(name), columns, Seq(c.hkey))
    createEffectivitySatellite(c.effectivitySatName(name))
  }

  def createSatellite(name: String, attributeColumns: Seq[ColumnDefinition]): Unit = {
    val columns = Seq(
      ColumnDefinition(c.hkey, StringType),
      ColumnDefinition(c.hdiff, StringType),
      ColumnDefinition(c.loadDate, TimestampType)) ++ attributeColumns
    createExternalTable(config.rawDatabase, c.satName(name), columns,
      Seq(c.hkey, c.loadDate))
  }

  def createEffectivitySatellite(name: String): Unit = {
    val columns = Seq(
      ColumnDefinition(c.hkey, StringType),
      ColumnDefinition(c.hdiff, StringType),
      ColumnDefinition(c.loadDate, TimestampType),
      ColumnDefinition(c.deleted, BooleanType))
    createExternalTable(config.rawDatabase, c.satName(name), columns,
      Seq(c.hkey, c.loadDate))
  }

  def createReferenceTable(name: String, idColumn: ColumnDefinition,
      attributeColumns: Seq[ColumnDefinition]): Unit = {
    val columns = Seq(
      ColumnDefinition(c.hdiff, StringType),
      ColumnDefinition(c.loadDate, TimestampType),
      idColumn) ++ attributeColumns
    createExternalTable(config.rawDatabase, c.refName(name), columns,
      Seq(idColumn.name, c.loadDate))
  }

  def createCodeReferenceTable(name: String, idColumn: ColumnDefinition,
      attributeColumns: Seq[ColumnDefinition]): Unit = {
    val columns = Seq(
      ColumnDefinition(c.group, StringType),
      ColumnDefinition(c.hdiff, StringType),
      ColumnDefinition(c.loadDate, TimestampType),
      idColumn) ++ attributeColumns
    createExternalTable(config.rawDatabase, c.refName(name), columns,
      Seq(c.group, idColumn.name, c.loadDate))
  }

  // ---- staging (RawVault.py:996-1043) ----

  def stageTableDf(source: String, hkeyColumns: Seq[String] = Nil): DataFrame =
    prepareStaged(
      spark.read.parquet(s"${config.stagingBasePath}/$source"),
      sourceSystemName, config.loadDateColumn, config.operationColumn,
      hkeyColumns, config.snapshotOverrideColumn)

  def stageTable(name: String, source: String, hkeyColumns: Seq[String] = Nil): Unit = {
    val df = stageTableDf(source, hkeyColumns)
    val bucketCols = if (df.columns.contains(c.hkey)) Seq(c.hkey) else Nil
    BucketedStore.save(spark, s"${config.stagingPreparedDatabase}.`$name`",
      creationLayout(bucketCols), df, "overwrite")
  }

  // ---- hub + satellites + effectivity (RawVault.py:194-260) ----

  def loadHubFromPreparedStagingTable(stagingTableName: String, hubTableName: String,
      businessKeyColumns: Seq[String], satellites: Seq[SatelliteDefinition] = Nil): Unit =
    loadHub(stagedTable(stagingTableName), hubTableName, businessKeyColumns, satellites)

  def loadHubFromSourceTable(sourceTableName: String, hubTableName: String,
      businessKeyColumns: Seq[String], satellites: Seq[SatelliteDefinition] = Nil): Unit =
    loadHub(stageTableDf(s"$sourceTableName.parquet", businessKeyColumns),
      hubTableName, businessKeyColumns, satellites)

  def loadHub(stagedDf: DataFrame, hubTableName: String,
      businessKeyColumns: Seq[String], satellites: Seq[SatelliteDefinition] = Nil): Unit = {
    val effName = c.effectivitySatName(hubTableName)
    val hubName = c.hubName(hubTableName)
    val staged = stampForLoad(stagedDf, sourceSystemName, clock)

    loadEffectivitySatelliteFromPreparedStageDataframe(staged, effName)
    satellites.foreach(loadSatelliteFromPreparedStageDataframe(staged, _))

    append(hubName, newHubRows(staged, rawTable(hubName), businessKeyColumns))
  }

  def loadSatelliteFromPreparedStageDataframe(staged: DataFrame,
      satellite: SatelliteDefinition): Unit = {
    append(satellite.name, newSatelliteRows(staged, rawTable(satellite.name),
      satellite.attributes.map(_.name)))
  }

  def loadEffectivitySatelliteFromPreparedStageDataframe(staged: DataFrame,
      effTableName: String): Unit = {
    append(effTableName, newEffectivityRows(staged, rawTable(effTableName)))
  }

  // ---- 2-way FK link (RawVault.py:262-304,480-632) ----

  def loadLinkForLinkedSourceTablesFromPreparedStagingTables(
      fromStagingTableName: String, fromForeignKey: ForeignKey,
      linkTableName: String, fromHkeyColumnName: String, toHkeyColumnName: String): Unit =
    loadLink(stagedTable(fromStagingTableName), fromForeignKey, linkTableName,
      fromHkeyColumnName, toHkeyColumnName)

  def loadLinkForLinkedSourceTablesFromSourceTables(
      fromSourceTableName: String, fromForeignKey: ForeignKey,
      linkTableName: String, fromHkeyColumnName: String, toHkeyColumnName: String,
      stagingBusinessKeyColumns: Seq[String]): Unit =
    loadLink(stageTableDf(s"$fromSourceTableName.parquet", stagingBusinessKeyColumns),
      fromForeignKey, linkTableName, fromHkeyColumnName, toHkeyColumnName)

  /** 2-way FK link load. The reference hardcodes the target's business
    * key as PublicID (RawVault.py:516) and derives the fallback hub/sat
    * name from the target table's first `_` segment (RawVault.py:530-531)
    * — both are naming-convention couplings to its insurance source, so
    * they are parameters here with reference-compatible defaults
    * (SURVEY §4 hazard 7). */
  def loadLink(stagedFromDf: DataFrame, fromForeignKey: ForeignKey,
      linkTableName: String, fromHkeyColumnName: String, toHkeyColumnName: String,
      toBusinessKeyColumns: Seq[String] = Seq("PublicID"),
      fallbackEntityName: Option[String] = None): Unit = {
    val linkName = c.linkName(linkTableName)
    val effName = c.effectivitySatName(linkName)
    val linkDf = rawTable(linkName)
    val effDf = rawTable(effName)
    val toStaged = stageTableDf(s"${fromForeignKey.to.table}.parquet", toBusinessKeyColumns)
    val fallbackBase = fallbackEntityName
      .getOrElse(fromForeignKey.to.table.split("_")(0))
    val toHub = rawTable(c.hubName(fallbackBase))
    val toSat = rawTable(c.satName(fallbackBase))

    val (newLinkRows, newEffRows, unpersist) = RawVaultOps.linkLoad(
      stagedFromDf, fromForeignKey, toStaged, toHub, toSat, linkDf, effDf,
      fromHkeyColumnName, toHkeyColumnName)

    append(linkName, newLinkRows)
    append(effName, newEffRows)
    unpersist()
  }

  // ---- multilink (RawVault.py:634-708) ----

  def loadLinkFromPreparedStageTable(stagingTableName: String,
      links: Seq[LinkedHubDefinition], linkTableName: String,
      satellites: Seq[SatelliteDefinition] = Nil): Unit =
    loadMultilink(stagedTable(stagingTableName), links, linkTableName, satellites)

  def loadLinkFromSourceTable(sourceTableName: String,
      links: Seq[LinkedHubDefinition], linkTableName: String,
      satellites: Seq[SatelliteDefinition] = Nil): Unit =
    loadMultilink(stageTableDf(s"$sourceTableName.parquet",
      links.map(_.foreignKey.column)), links, linkTableName, satellites)

  def loadMultilink(stagedDf: DataFrame, links: Seq[LinkedHubDefinition],
      linkTableName: String, satellites: Seq[SatelliteDefinition] = Nil): Unit = {
    val effName = c.effectivitySatName(linkTableName)
    val linkName = c.linkName(linkTableName)
    val linkDf = rawTable(linkName)

    val resolved = resolveMultilinkHubKeys(stagedDf,
      links.map(l => l -> rawTable(c.hubName(l.name))))
    val (staged, newRows) = newMultilinkRows(resolved, linkDf,
      links.map(_.hkeyColumnName), sourceSystemName, clock)

    loadEffectivitySatelliteFromPreparedStageDataframe(staged, effName)
    satellites.foreach(loadSatelliteFromPreparedStageDataframe(staged, _))

    append(linkName, newRows)
  }

  // ---- reference tables (RawVault.py:710-911) ----

  def loadReferencesFromPreparedStageTable(stagingTableName: String,
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit =
    loadReferences(stagedTable(stagingTableName), referenceTableName, idColumn, attributes)

  def loadReferencesFromSourceTable(sourceTableName: String,
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit =
    loadReferences(stageTableDf(s"$sourceTableName.parquet"),
      referenceTableName, idColumn, attributes)

  def loadReferences(stagedDf: DataFrame, referenceTableName: String,
      idColumn: String, attributes: Seq[String]): Unit = {
    val refName = c.refName(referenceTableName)
    append(refName, newReferenceRows(stagedDf, rawTable(refName), idColumn,
      attributes))
  }

  def loadCodeReferencesFromPreparedStageTable(stagingTableName: String,
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit =
    loadCodeReferences(stagedTable(stagingTableName), stagingTableName,
      referenceTableName, idColumn, attributes)

  def loadCodeReferencesFromSourceTable(sourceTableName: String,
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit =
    loadCodeReferences(stageTableDf(s"$sourceTableName.parquet"), sourceTableName,
      referenceTableName, idColumn, attributes)

  def loadCodeReferences(stagedDf: DataFrame, groupName: String,
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit = {
    val refName = c.refName(referenceTableName)
    append(refName, newCodeReferenceRows(stagedDf, rawTable(refName), groupName,
      idColumn, attributes))
  }

  /** Multi-table code-reference load from raw source files
    * (RawVault.py:874-911): stage each, then run the multi-table load. */
  def loadCodeReferencesFromMultipleSourceTables(sourceTableNames: Seq[String],
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit = {
    sourceTableNames.foreach(name => stageTable(name, s"$name.parquet"))
    loadCodeReferencesFromMultiplePreparedStageTables(sourceTableNames,
      referenceTableName, idColumn, attributes)
  }

  /** Multi-table code-reference load (RawVault.py:835-872): one pass per
    * staging table, pre-shuffled by group. Each batch aligns to the raw
    * table's buckets, not to the group-partitioned cache of it. */
  def loadCodeReferencesFromMultiplePreparedStageTables(stagingTableNames: Seq[String],
      referenceTableName: String, idColumn: String, attributes: Seq[String]): Unit = {
    val refName = c.refName(referenceTableName)
    val raw = rawTable(refName)
    val refDf = raw.repartition(stagingTableNames.size, col(c.group)).cache()
    val newRows = stagingTableNames.map { name =>
      val staged = stagedTable(name)
        .withColumn(c.group, lit(name.toLowerCase))
        .withColumn(c.hdiff, Dv.hashNames(attributes))
        .select(refDf.columns.toSeq.map(col): _*)
        .dropDuplicates(Seq(idColumn, c.group, c.loadDate))
      RawVaultOps.antiExisting(alignedTo(raw, staged), refDf,
          Seq(idColumn, c.group, c.loadDate))
        .distinct()
    }.reduce(_ union _)
    append(refName, newRows)
    refDf.unpersist(blocking = false)
  }
}
