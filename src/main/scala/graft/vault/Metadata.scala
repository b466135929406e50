package graft.vault

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Metadata-driven vault construction: a source-schema document (JSON)
  * plus a vault-mapping document (YAML) generate every create/load call.
  *
  * This is the API surface the reference's BDD suite anticipates but
  * never ships (features/steps/raw_vault.py:20-23 imports Schema /
  * DataVaultSchemaMapping / Metadata / RawVaultNew — none exist in the
  * repo); the document formats follow features/imdb-schema.json:1-137
  * and features/imdb-mapping.yaml:1-51.
  */
object VaultMetadata {

  final case class SourceColumn(name: String, sqlType: String) {
    /** BDD type mapper (features/steps/raw_vault.py:215-240). */
    def dataType: DataType = sqlType.toLowerCase match {
      case t if t.startsWith("date") || t.startsWith("datetime") || t.startsWith("time") => TimestampType
      case t if t.startsWith("int") => IntegerType
      case t if t.startsWith("numeric") => LongType
      case t if t.startsWith("bool") => BooleanType
      case _ => StringType // text, varchar, default
    }
    def toDefinition: ColumnDefinition = ColumnDefinition(name, dataType, nullable = true)
  }

  final case class SourceForeignKey(column: String, toTable: String, toColumn: String)

  final case class SourceTable(
      name: String,
      columns: Seq[SourceColumn],
      primaryKey: Seq[String],
      foreignKeys: Seq[SourceForeignKey]) {
    def column(n: String): SourceColumn = columns.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n in table $name"))
  }

  final case class SourceSchema(name: String, tables: Seq[SourceTable]) {
    def table(n: String): SourceTable = tables.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no table $n in schema $name"))
  }

  final case class HubMapping(name: String, sourceTable: String, businessKeys: Seq[String])
  final case class LinkLeg(rawColumn: String, sourceColumn: String,
      fkTable: String, fkColumn: String)
  final case class LinkMapping(name: String, sourceTable: String, to: Seq[LinkLeg])
  final case class SatelliteMapping(name: String, hub: String, sourceTable: String)

  final case class VaultMapping(
      hubs: Seq[HubMapping],
      links: Seq[LinkMapping],
      satellites: Seq[SatelliteMapping]) {
    def hubForSource(table: String): Option[HubMapping] =
      hubs.find(_.sourceTable == table)
  }

  def parseSchema(json: String): SourceSchema = {
    val root = new ObjectMapper().readTree(json)
    SourceSchema(
      root.path("name").asText(),
      root.path("tables").elements().asScala.map(parseTable).toSeq)
  }

  private def parseTable(t: JsonNode): SourceTable = SourceTable(
    t.path("name").asText(),
    t.path("columns").elements().asScala.map(cn =>
      SourceColumn(cn.path("name").asText(), cn.path("type").asText())).toSeq,
    t.path("primaryKey").elements().asScala.map(_.asText()).toSeq,
    t.path("foreignKeys").elements().asScala.map(fk => SourceForeignKey(
      fk.path("column").asText(),
      fk.path("foreignColumn").path("table").asText(),
      fk.path("foreignColumn").path("column").asText())).toSeq)

  def parseMapping(yaml: String): VaultMapping = {
    val root = new ObjectMapper(new YAMLFactory()).readTree(yaml)
    VaultMapping(
      root.path("hubs").elements().asScala.map(h => HubMapping(
        h.path("name").asText(),
        h.path("source_table").asText(),
        h.path("business_keys").elements().asScala.map(_.asText()).toSeq)).toSeq,
      root.path("links").elements().asScala.map { l =>
        val source = l.path("source_table").asText()
        // the reference format may declare the feeding table's own leg at
        // link level (raw_column next to source_table,
        // features/imdb-mapping.yaml:17-19) instead of inside `to` —
        // normalize it into a self-leg so it is never silently dropped
        val selfLeg =
          if (l.hasNonNull("raw_column"))
            Seq(LinkLeg(l.path("raw_column").asText(),
              l.path("source_column").asText(), source, ""))
          else Nil
        LinkMapping(
          l.path("name").asText(),
          source,
          selfLeg ++ l.path("to").elements().asScala.map(leg => LinkLeg(
            leg.path("raw_column").asText(),
            leg.path("source_column").asText(),
            leg.path("source_foreign_key").path("table").asText(),
            leg.path("source_foreign_key").path("column").asText())).toSeq)
      }.toSeq,
      root.path("satellites").elements().asScala.map(s => SatelliteMapping(
        s.path("name").asText(),
        s.path("hub").asText(),
        s.path("source_table").asText())).toSeq)
  }
}

/** Drives a RawVault from parsed metadata: one call creates every vault
  * table, one call per source table (or one loadAll) runs the loads.
  */
class MetadataVault(
    val vault: RawVault,
    val schema: VaultMetadata.SourceSchema,
    val mapping: VaultMetadata.VaultMapping) {
  import VaultMetadata._

  private implicit val c: Conventions = vault.config.conventions

  /** Satellite attribute columns: every source column that is not a
    * business key (system columns are added by the vault). */
  private def satAttributes(sat: SatelliteMapping): Seq[ColumnDefinition] = {
    val table = schema.table(sat.sourceTable)
    val keys = mapping.hubForSource(sat.sourceTable).map(_.businessKeys).getOrElse(Nil).toSet
    table.columns.filterNot(col => keys.contains(col.name)).map(_.toDefinition)
  }

  private def satellitesForHub(hub: HubMapping): Seq[SatelliteDefinition] =
    mapping.satellites.filter(_.hub == hub.name)
      .map(s => SatelliteDefinition(s.name, satAttributes(s)))

  def createAll(): Unit = {
    vault.initializeDatabase()
    mapping.hubs.foreach { h =>
      val table = schema.table(h.sourceTable)
      vault.createHub(h.name, h.businessKeys.map(k => table.column(k).toDefinition))
    }
    mapping.satellites.foreach(s => vault.createSatellite(s.name, satAttributes(s)))
    mapping.links.foreach(l => vault.createLink(l.name, l.to.map(_.rawColumn)))
  }

  /** Load the hub (+satellites +effectivity) fed by one source table. */
  def loadHubsFor(sourceTable: String): Unit =
    mapping.hubs.filter(_.sourceTable == sourceTable).foreach { h =>
      vault.loadHubFromSourceTable(h.sourceTable, h.name, h.businessKeys,
        satellitesForHub(h))
    }

  /** Load the links fed by one source table. Legs that point at the
    * feeding table's own hub resolve through the staged hash key; other
    * legs resolve by FK equi-join against their hub.
    *
    * A 2-way link owned by the feeding table (one self leg + one FK leg,
    * the `movies → directors` shape) gets the FULL reconciliation
    * semantics the BDD suite specifies — FK re-point, FK→null, and
    * entity-delete all end the previously-current pair
    * (RawVaultOps.reconcileLinkStates). Links whose source is a pure
    * association table (all-FK legs, the `castings` shape) load through
    * the multilink path, where CDC deletes flag the pair's effectivity
    * directly. */
  private def hubFor(table: String): HubMapping =
    mapping.hubForSource(table).getOrElse(
      throw new IllegalArgumentException(s"no hub maps source table $table"))

  /** Resolution frame for one FK leg: the target's hub when it carries
    * the FK column (business-key FKs); otherwise the v3-style staged +
    * satellite fallback (RawVault.py:512-536) — the STAGED batch (if
    * delivered this batch; a missing staging file is fine) covers
    * entities changing now, the hub's satellite covers entities loaded
    * in EARLIER batches. Exactly ONE hash key survives per FK id:
    * staged beats history, then latest load date — so a re-assigned or
    * renamed id resolves to its current entity, never fans out. */
  private def resolverFrame(leg: LinkLeg, targetHub: HubMapping): DataFrame = {
    val hubDf = vault.spark.table(
      s"${vault.config.rawDatabase}.`${c.hubName(targetHub.name)}`")
    if (hubDf.columns.contains(leg.fkColumn)) hubDf
    else {
      val stagedPath = new org.apache.hadoop.fs.Path(
        s"${vault.config.stagingBasePath}/${leg.fkTable}.parquet")
      val fs = stagedPath.getFileSystem(
        vault.spark.sparkContext.hadoopConfiguration)
      // BEFORE_UPDATE rows carry the PRE-update business keys: a
      // business-key-changing update ships BEFORE_UPDATE + UPDATE at the
      // same CDC instant, and keeping both would let the tiebreak resolve
      // the FK to the stale entity hash key. `__ld` is microsecond
      // precision so successive intra-second updates order correctly.
      val stagedRes =
        if (!fs.exists(stagedPath)) Nil
        else Seq(vault.stageTableDf(s"${leg.fkTable}.parquet", targetHub.businessKeys)
          .filter(col(c.operation) =!= CdcOp.BeforeUpdate)
          .select(col(leg.fkColumn), col(c.hkey), lit(0).as("__prio"),
            unix_micros(col(c.loadDate)).as("__ld")))
      val satRes = mapping.satellites.filter(_.hub == targetHub.name)
        .map(s => vault.spark.table(s"${vault.config.rawDatabase}.`${c.satName(s.name)}`"))
        .filter(_.columns.contains(leg.fkColumn))
        .map(_.select(col(leg.fkColumn), col(c.hkey), lit(1).as("__prio"),
          unix_micros(col(c.loadDate)).as("__ld")))
      val all = stagedRes ++ satRes
      require(all.nonEmpty,
        s"cannot resolve FK ${leg.fkTable}.${leg.fkColumn}: no staged file and no satellite carries it")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(leg.fkColumn)
        .orderBy(col("__prio"), col("__ld").desc, col(c.hkey))
      all.reduce(_ union _)
        .withColumn("__rrn", row_number().over(w))
        .filter(col("__rrn") === 1)
        .select(col(leg.fkColumn), col(c.hkey))
    }
  }

  def loadLinksFor(sourceTable: String): Unit =
    mapping.links.filter(_.sourceTable == sourceTable).foreach { l =>
      val selfKeys = mapping.hubForSource(sourceTable).map(_.businessKeys).getOrElse(Nil)
      val staged = vault.stageTableDf(s"$sourceTable.parquet",
        if (selfKeys.nonEmpty) selfKeys
        else l.to.map(_.sourceColumn))
      val (selfLegs, fkLegs) = l.to.partition(_.fkTable == sourceTable)
      val linkTable = vault.spark.table(
        s"${vault.config.rawDatabase}.`${c.linkName(l.name)}`")

      (selfLegs, fkLegs) match {
        case (Seq(selfLeg), Seq(fkLeg)) =>
          val targetHub = hubFor(fkLeg.fkTable)
          // capture FK presence BEFORE resolution: the resolver may drop
          // the staged FK column on name collision, and a left-join miss
          // leaves the resolved hkey null — which must read as "skip this
          // row" (the reference's multilink 'we just skip it'), NOT as an
          // FK→null event that would end-date the currently-live pair
          val resolved = RawVaultOps.resolveMultilinkHubKeys(
            staged.withColumn("__fk_present", col(fkLeg.sourceColumn).isNotNull),
            Seq(
              LinkedHubDefinition(targetHub.name, fkLeg.rawColumn,
                ForeignKey(fkLeg.sourceColumn,
                  ColumnReference(targetHub.name, fkLeg.fkColumn))) ->
                resolverFrame(fkLeg, targetHub)))
          val events = resolved
            .filter(col(c.operation).isin(
              CdcOp.Create, CdcOp.Update, CdcOp.Snapshot, CdcOp.Delete))
            .filter(col(c.operation) === CdcOp.Delete ||
              !col("__fk_present") || col(fkLeg.rawColumn).isNotNull)
            .withColumn(selfLeg.rawColumn, col(c.hkey))
            .withColumn(fkLeg.rawColumn,
              when(col(c.operation) === CdcOp.Delete, lit(null).cast(StringType))
                .otherwise(col(fkLeg.rawColumn)))
            .select(col(selfLeg.rawColumn), col(fkLeg.rawColumn),
              col(c.loadDate), col(c.operation))
          val effName = c.effectivitySatName(l.name)
          val (newLinks, newEff) = RawVaultOps.reconcileLinkStates(
            events, linkTable,
            vault.spark.table(s"${vault.config.rawDatabase}.`$effName`"),
            selfLeg.rawColumn, fkLeg.rawColumn, vault.sourceSystemName,
            vault.loadClock,
            tieBreak = when(col(c.operation) === CdcOp.Delete, 1).otherwise(0))
          vault.append(c.linkName(l.name), newLinks)
          vault.append(effName, newEff)

        case _ =>
          val resolved0 = selfLegs.foldLeft(staged)(
            (df, leg) => df.withColumn(leg.rawColumn, df(c.hkey)))
          val fkDefs = fkLegs.map { leg =>
            val targetHub = hubFor(leg.fkTable)
            (LinkedHubDefinition(targetHub.name, leg.rawColumn,
              ForeignKey(leg.sourceColumn, ColumnReference(targetHub.name, leg.fkColumn))),
              resolverFrame(leg, targetHub))
          }
          val resolved = RawVaultOps.resolveMultilinkHubKeys(resolved0, fkDefs)
          val (stagedOut, newRows) = RawVaultOps.newMultilinkRows(resolved,
            linkTable, l.to.map(_.rawColumn), vault.sourceSystemName, vault.loadClock)
          vault.append(c.linkName(l.name), newRows)
          // keep the link's effectivity satellite loaded (CDC deletes for
          // link-feeding rows must be visible), as loadMultilink does
          vault.loadEffectivitySatelliteFromPreparedStageDataframe(stagedOut,
            c.effectivitySatName(l.name))
      }
    }

  /** Stage + load everything the mapping derives from every source table. */
  def loadAll(): Unit = {
    mapping.hubs.map(_.sourceTable).distinct.foreach(loadHubsFor)
    mapping.links.map(_.sourceTable).distinct.foreach(loadLinksFor)
  }
}
