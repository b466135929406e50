package graft.vault

import org.apache.spark.sql.types._

/** CDC operation codes.
  *
  * Mirrors the reference's encoding (DataVaultShared.py:41-48):
  * SNAPSHOT=0, DELETE=1, CREATE=2, BEFORE_UPDATE=3, UPDATE=4.
  */
object CdcOp {
  val Snapshot: Int = 0
  val Delete: Int = 1
  val Create: Int = 2
  val BeforeUpdate: Int = 3
  val Update: Int = 4
}

/** A column declaration for vault tables.
  * Reference: ColumnDefinition (DataVaultShared.py:260-269). */
final case class ColumnDefinition(
    name: String,
    dataType: DataType,
    nullable: Boolean = false,
    comment: Option[String] = None) {
  def toField: StructField = {
    val f = StructField(name, dataType, nullable)
    comment.map(f.withComment).getOrElse(f)
  }
}

/** Satellite declaration: name + attribute columns.
  * Reference: SatelliteDefinition (DataVaultShared.py:272-281). */
final case class SatelliteDefinition(name: String, attributes: Seq[ColumnDefinition])

/** A (table, column) reference. Reference: ColumnReference (DataVaultShared.py:284-293). */
final case class ColumnReference(table: String, column: String)

/** Foreign key from a staging column to a referenced (table, column).
  * Reference: ForeignKey (DataVaultShared.py:296-305). */
final case class ForeignKey(column: String, to: ColumnReference)

/** One leg of a link: the hub it points at and how to resolve the FK.
  * Reference: LinkedHubDefinition (DataVaultShared.py:308-323). */
final case class LinkedHubDefinition(name: String, hkeyColumnName: String, foreignKey: ForeignKey)

/** Naming + system-column conventions for the vault.
  *
  * Mirrors DataVaultConventions (DataVaultShared.py:51-257). All system
  * columns carry the `columnPrefix` (default `$__`); table kinds carry
  * `HUB__`/`LNK__`/`SAT__`/`REF__`/`PIT__` prefixes. Name normalization is
  * driver-side string manipulation, exactly as in the reference.
  */
final case class Conventions(
    columnPrefix: String = "$__",
    hubPrefix: String = "HUB__",
    linkPrefix: String = "LNK__",
    refPrefix: String = "REF__",
    satPrefix: String = "SAT__",
    pitPrefix: String = "PIT__",
    effectivitySatSuffix: String = "EFFECTIVITY",
    /** source-system table prefixes stripped during normalization
      * (reference hardcodes CC_/CCX_/ALG_, DataVaultShared.py:239-246 —
      * configurable here). */
    sourcePrefixes: Seq[String] = Seq("CC_", "CCX_", "ALG_")) {

  // --- system column names (DataVaultShared.py:78-161) ---
  val hkey: String = s"${columnPrefix}HKEY"
  val hdiff: String = s"${columnPrefix}HDIFF"
  val loadDate: String = s"${columnPrefix}LOAD_DATE"
  val loadEndDate: String = s"${columnPrefix}LOAD_END_DATE"
  val recordSource: String = s"${columnPrefix}RECORD_SOURCE"
  val operation: String = s"${columnPrefix}OPERATION"
  val deleted: String = s"${columnPrefix}DELETED"
  val group: String = s"${columnPrefix}GROUP"
  val cdcLoadDate: String = s"${columnPrefix}CDC_LOAD_DATE"
  /** temp-rename suffix used for rename-around-join (BusinessVault.py:166-172) */
  def tmp(col: String): String = s"$col${columnPrefix}TMP"

  def isSystemColumn(c: String): Boolean = c.startsWith(columnPrefix)

  // --- name normalization (DataVaultShared.py:164-257) ---
  private def normalize(name: String): String = {
    val upper = name.toUpperCase
    sourcePrefixes.find(upper.startsWith).map(p => upper.drop(p.length)).getOrElse(upper)
  }
  def hubName(source: String): String =
    if (source.toUpperCase.startsWith(hubPrefix)) source.toUpperCase
    else s"$hubPrefix${normalize(source)}"
  def linkName(name: String): String =
    if (name.toUpperCase.startsWith(linkPrefix)) name.toUpperCase
    else s"$linkPrefix${normalize(name)}"
  def refName(source: String): String =
    if (source.toUpperCase.startsWith(refPrefix)) source.toUpperCase
    else s"$refPrefix${normalize(source)}"
  def satName(source: String): String =
    if (source.toUpperCase.startsWith(satPrefix)) source.toUpperCase
    else s"$satPrefix${normalize(source)}"
  /** Strip any table-kind prefix, then source-prefix-normalize — so the
    * create path (raw source name, e.g. "CC_POLICY") and the load path
    * (derived vault name, e.g. "LNK__POLICY") agree on derived names. */
  private def baseEntityName(name: String): String = {
    val upper = name.toUpperCase
    val stripped = Seq(hubPrefix, linkPrefix, satPrefix, pitPrefix)
      .find(upper.startsWith).map(p => upper.drop(p.length)).getOrElse(upper)
    normalize(stripped)
  }
  def effectivitySatName(hubOrLink: String): String = {
    // idempotent, like the reference's startswith guard
    // (DataVaultShared.py sat_effectivity_name): an already-derived name
    // passes through unchanged instead of re-deriving from its suffix.
    val effPrefix = s"$satPrefix${effectivitySatSuffix}_"
    if (hubOrLink.toUpperCase.startsWith(effPrefix)) hubOrLink.toUpperCase
    else s"$effPrefix${baseEntityName(hubOrLink)}"
  }
  def pitName(hubOrSat: String): String =
    s"$pitPrefix${baseEntityName(hubOrSat)}"
  /** FK hash column inside a link: `<HUB>_HKEY` (DataVaultShared.py:135-142).
    * Strips only a LEADING hub prefix — replace-all would mangle entity
    * names that contain the prefix substring. */
  def hubHkeyColumn(hubName: String): String = {
    val upper = hubName.toUpperCase
    val base = if (upper.startsWith(hubPrefix)) upper.drop(hubPrefix.length) else upper
    s"${base}_HKEY"
  }

  /** Entity name from a source table name (Curated.py:100-111). */
  def entityName(sourceTable: String): String = normalize(sourceTable)
}

object Conventions {
  val default: Conventions = Conventions()
}

/** Raw-vault configuration (RawVault.py:13-50). The optional base paths
  * mirror the reference's `staging_prepared_base_path` / `raw_base_path`:
  * when set, `initializeDatabase` creates the database at that explicit
  * warehouse LOCATION; when absent, the session warehouse decides.
  * `optimizePartitioning` / `partitionSize` (RawVault.py:23-24) decide
  * only the layout of the tables a [[RawVault]] creates and of its
  * staging tables — bucketed by their dedup keys into `partitionSize`
  * buckets; loads follow each existing table's catalog layout. */
final case class RawVaultConfig(
    stagingBasePath: String,
    stagingPreparedDatabase: String,
    rawDatabase: String,
    loadDateColumn: String = "LOAD_DATE",
    operationColumn: String = "OPERATION",
    snapshotOverrideColumn: Option[String] = None,
    optimizePartitioning: Boolean = true,
    partitionSize: Int = 32,
    conventions: Conventions = Conventions.default,
    stagingPreparedBasePath: Option[String] = None,
    rawBasePath: Option[String] = None)

private[vault] object VaultSql {
  /** CREATE DATABASE with the reference's optional explicit LOCATION
    * (RawVault.py:187-192, BusinessVault.py:130-134, LoadRaw.py:160-166,
    * Curated.py:114-118). */
  def createDatabase(db: String, location: Option[String]): String =
    s"CREATE DATABASE IF NOT EXISTS $db" +
      location.map(l => s" LOCATION '${l.replace("'", "''")}'").getOrElse("")
}
