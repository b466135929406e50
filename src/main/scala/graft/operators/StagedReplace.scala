package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit point for every persisted artifact graft rewrites in
  * place — the stand-in for the transactional `MERGE` a lakehouse
  * format would give for free. Bucketed-index compaction and the v2
  * raw-vault upserts replace catalog tables; the bloom merge, the
  * StatsStore base and its absorbed-ids manifest replace directories.
  * This object is the only code that renames a persisted artifact into
  * place or decides what a crash left behind, and it has ONE rule:
  *
  *   a '''committed''' stage supersedes the live artifact; an
  *   uncommitted stage is discarded.
  *
  * The new version is written next to the live one, and the live one
  * is removed only once that stage has committed, so no crash point
  * leaves zero copies: at every instant either the live artifact or a
  * committed stage holding its full replacement exists, and the heal
  * at the artifact's next entry point completes the swap. A stage is
  * only ever written from the live artifact by the single writer, and
  * that writer heals before it reads — so a committed stage is always
  * the newest full version, whether or not the live one still exists.
  *
  * Two forms:
  *  - '''directory''' ([[replaceDir]] / [[healDir]]): the stage is a
  *    hidden `_`-prefixed sibling (parquet discovery never lists it,
  *    which matters inside a partitioned directory); committed = its
  *    job commit wrote `_SUCCESS`. An optional `supersede` step runs
  *    before the rename (the StatsStore base deletes the partitions it
  *    absorbed);
  *  - '''table''' ([[replaceTable]] / [[healTable]], under
  *    [[BucketedStore.withBandLock]]): the stage is the `<table>__stage`
  *    catalog table; committed = present in the catalog (a failed
  *    `saveAsTable` registers nothing, and the location it orphaned is
  *    cleared by the next replace). Promotion copies the live table's
  *    `graft.*` TBLPROPERTIES onto the stage, drops the live table and
  *    its location, then renames the stage.
  *
  * Callers never see stage names or commit markers; they heal at every
  * entry point and hand the replace a writer for the stage.
  */
private[graft] object StagedReplace {

  // ---- directory form

  /** The stage of directory `live`: a hidden sibling. An `=` in the
    * name is replaced — Spark's partition discovery lists an
    * underscore-prefixed directory whose name contains one. */
  def stageDir(live: Path): Path =
    new Path(live.getParent, "_" + live.getName.replace('=', '_') + "__stage")

  /** `dir` holds a committed write: its job commit wrote `_SUCCESS`. */
  def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Replace directory `live` with what `write` puts at the stage path
    * it is given, then promote it exactly as [[healDir]] does after a
    * crash. A leftover stage is cleared first (the caller healed at its
    * entry point, so it can only be an uncommitted one); a write that
    * did not commit fails loudly and leaves `live` untouched. */
  def replaceDir(spark: SparkSession, live: Path,
      supersede: () => Unit = () => ())(write: Path => Unit): Unit = {
    val fs = fsOf(spark, live)
    val stage = stageDir(live)
    if (fs.exists(stage)) fs.delete(stage, true)
    write(stage)
    require(committed(fs, stage),
      s"StagedReplace: the staged write for $live did not commit " +
        s"(no _SUCCESS under $stage) — the live artifact is left as it was")
    healDir(spark, live, supersede)
  }

  /** Complete or discard what a crashed [[replaceDir]] left at `live`:
    * a committed stage is promoted (after `supersede`), an uncommitted
    * one deleted. No stage: one existence check. */
  def healDir(spark: SparkSession, live: Path,
      supersede: () => Unit = () => ()): Unit = {
    val fs = fsOf(spark, live)
    val stage = stageDir(live)
    if (fs.exists(stage)) {
      if (committed(fs, stage)) {
        supersede()
        if (fs.exists(live)) fs.delete(live, true)
        require(fs.rename(stage, live),
          s"StagedReplace: could not rename $stage to $live")
      } else { fs.delete(stage, true); () }
    }
  }

  // ---- table form

  /** The stage of catalog table `table`. */
  def stageTable(spark: SparkSession, table: String): String = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    id.copy(table = id.table + "__stage").quotedString
  }

  /** Replace catalog table `table` with the table `write` creates under
    * the stage name it is given, under the maintenance lock. A leftover
    * stage and any location it orphaned are dropped first (the caller
    * healed at its entry point); a write that throws registers no
    * stage and leaves `table` untouched. */
  def replaceTable(spark: SparkSession, table: String)(
      write: String => Unit): Unit =
    BucketedStore.withBandLock {
      val stage = stageTable(spark, table)
      BucketedStore.dropTableAndLocation(spark, stage)
      write(stage)
      promoteTable(spark, table, stage)
    }

  /** Promote a stage a crashed [[replaceTable]] committed, under the
    * maintenance lock (a reader racing a live replace would otherwise
    * promote its stage under it). No stage: one catalog lookup. */
  def healTable(spark: SparkSession, table: String): Unit =
    BucketedStore.withBandLock {
      val stage = stageTable(spark, table)
      if (spark.catalog.tableExists(stage)) promoteTable(spark, table, stage)
    }

  private def promoteTable(spark: SparkSession, table: String,
      stage: String): Unit = {
    if (spark.catalog.tableExists(table)) {
      val stamps = BucketedStore.metadata(spark, table).properties
        .filter(_._1.startsWith("graft."))
      if (stamps.nonEmpty) BucketedStore.stampTableProps(spark, stage, stamps)
    }
    BucketedStore.dropStorage(spark, table)
    val live = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sql(s"ALTER TABLE $stage RENAME TO ${live.quotedString}")
    spark.catalog.refreshTable(table)
  }
}
