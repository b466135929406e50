package graft.vault

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.StagedReplace

/** The reference's v2 engine mode (LoadRaw.py:1-535): Delta-MERGE upsert
  * semantics with `last_seen_date` hubs/links and SCD2 `load_end_date`
  * satellites, re-expressed without Delta as pure new-table-state
  * computations.
  *
  * v2 differs observably from the canonical v3 CDC mode:
  *   - hubs/links carry `last_seen_date`, updated IN PLACE on every load
  *     that re-sees the key (LoadRaw.py:453-458,484-487) — an UPDATE, not
  *     an insert;
  *   - satellites are SCD2: versions keyed on (hkey, hdiff)
  *     (LoadRaw.py:511-513), so re-sending an unchanged version — or
  *     flipping back to ANY previously-seen version — inserts nothing;
  *     superseded versions get `load_end_date` = the load date of a
  *     strictly later row with a different hdiff (LoadRaw.py:514-531);
  *   - column names are bare snake_case (`hkey`, `load_date`, ...) with a
  *     `dv__` staging prefix (LoadRaw.py:46-54), not `$__` system names.
  *
  * Where the reference relies on Delta MERGE, each loader here computes
  * the FULL NEW TABLE STATE as a DataFrame. The catalog-backed
  * [[LoadRawV2]] writes it as a staged table that then replaces the
  * one it was read from ([[graft.operators.StagedReplace]]). On a
  * lakehouse format these same frames feed `MERGE INTO` unchanged; the
  * read-modify-replace is the price of plain parquet and is why v3's
  * append-only anti-join idiom is the default engine. End-dating with
  * several versions per key per batch is well-defined here
  * (min-over-strictly-later); the reference's second MERGE would fail on
  * multiple matches, so this is a strict generalization of its
  * one-version-per-load protocol.
  */
object LoadRawV2Ops {

  val Hkey = "hkey"
  val Hdiff = "hdiff"
  val LastSeenDate = "last_seen_date"
  val LoadDate = "load_date"
  val LoadEndDate = "load_end_date"
  val RecordSource = "record_source"
  val DvPrefix = "dv__"

  /** Hub/link upsert (LoadRaw.py:443-495): matched keys keep their
    * original row but take the update's `last_seen_date`; unmatched
    * update rows are inserted whole. Returns the new full table state.
    * `updates` must be unique per `hkey` (the reference stages links with
    * SELECT DISTINCT; duplicate keys would make MERGE nondeterministic).
    */
  def upsertKeyed(existing: DataFrame, updates: DataFrame): DataFrame = {
    val cols = existing.columns.toSeq
    // right side carries only renamed columns, so the join stays
    // unambiguous even when both frames share lineage
    val seen = updates.select(col(Hkey).as("u_hkey"), col(LastSeenDate).as("u_seen"))
    val kept = existing
      .join(seen, col(Hkey) === col("u_hkey"), "left")
      .withColumn(LastSeenDate, coalesce(col("u_seen"), col(LastSeenDate)))
      .select(cols.map(col): _*)
    val inserted = RawVaultOps.antiExisting(updates, existing, Seq(Hkey))
      .select(cols.map(col): _*)
    kept.union(inserted)
  }

  /** Satellite upsert + SCD2 end-dating (LoadRaw.py:497-535). New rows =
    * updates whose (hkey, hdiff) is absent; then every open row
    * (`load_end_date` null) whose key has a strictly later load date gets
    * end-dated to the EARLIEST such date. Returns the new full state.
    *
    * The successor date is derived on the DISTINCT (hkey, load_date)
    * pairs with a `lead` window and joined back — same one-exchange cost
    * as the window alone, and rows sharing a load date (two versions in
    * one batch) correctly skip each other, matching the reference's
    * strict `l.load_date < r.load_date` predicate.
    */
  def upsertSatellite(existing: DataFrame, updates: DataFrame): DataFrame = {
    val cols = existing.columns.toSeq
    // dedup per (hkey, hdiff) keeps the EARLIEST sighting of a version:
    // dropDuplicates would pick a partition-order-dependent row when the
    // same version recurs at different load dates in one batch, making
    // end-dating nondeterministic. min-load-date matches the
    // first-insert-wins effect of loading the dates as separate batches.
    val vw = Window.partitionBy(Hkey, Hdiff).orderBy(LoadDate)
    val firstSeen = updates
      .withColumn("__vrn", row_number().over(vw))
      .filter(col("__vrn") === 1)
      .drop("__vrn")
    val inserted = RawVaultOps.antiExisting(firstSeen, existing, Seq(Hkey, Hdiff))
      .select(cols.map(col): _*)
    val all = existing.union(inserted)
    val w = Window.partitionBy("n_hkey").orderBy("n_load")
    // right side carries only renamed columns (see upsertKeyed)
    val successors = all.select(col(Hkey).as("n_hkey"), col(LoadDate).as("n_load"))
      .distinct()
      .withColumn("__next_load", lead("n_load", 1).over(w))
    all
      .join(successors,
        col(Hkey) === col("n_hkey") && col(LoadDate) === col("n_load"), "left")
      .withColumn(LoadEndDate, coalesce(col(LoadEndDate), col("__next_load")))
      .select(cols.map(col): _*)
  }

  /** v2 staging decoration (LoadRaw.py:397-425): stamp
    * `dv__load_date` / `dv__last_seen_date` with the run's load date,
    * `dv__record_source`, and optionally `dv__hkey` over the key columns. */
  def decorateStaged(df: DataFrame, loadDate: Column,
      sourceSystemName: String, hkeyColumns: Seq[String] = Nil): DataFrame = {
    var out = df
      .withColumn(s"$DvPrefix$LoadDate", loadDate)
      .withColumn(s"$DvPrefix$LastSeenDate", loadDate)
      .withColumn(s"$DvPrefix$RecordSource", lit(sourceSystemName))
    if (hkeyColumns.nonEmpty)
      out = out.withColumn(s"$DvPrefix$Hkey", Dv.hashNames(hkeyColumns))
    out
  }

  /** Strip the `dv__` staging prefix from the system columns
    * (LoadRaw.py:190-193,373-375). */
  def unprefix(df: DataFrame, names: Seq[String]): DataFrame =
    names.foldLeft(df)((d, n) => d.withColumnRenamed(s"$DvPrefix$n", n))
}

/** Catalog-backed v2 raw vault, mirroring LoadRaw's public API surface
  * (SURVEY §2.12: create_hub:100 ... stage_table:397). Naming follows the
  * reference: `{shortName}__staging` / `{shortName}__raw` databases
  * (LoadRaw.py:96-97).
  *
  * @param loadDate ISO-8601 `yyyy-MM-dd'T'HH:mm:ss'Z'` string, parsed the
  *   reference's way (LoadRaw.py:32-41); one fixed date per loader run.
  */
class LoadRawV2(
    val spark: SparkSession,
    val loadDate: String,
    val sourceSystemName: String,
    val sourceSystemShortName: String,
    val sourceBasePath: String,
    val stagingDatabasePath: Option[String] = None,
    val rawDatabasePath: Option[String] = None) {

  import LoadRawV2Ops._

  val stagingDatabaseName = s"${sourceSystemShortName}__staging"
  val rawDatabaseName = s"${sourceSystemShortName}__raw"

  private def loadDateCol: Column = Dv.parseTimestamp(lit(loadDate))

  /** Create both databases, optionally at explicit warehouse LOCATIONs
    * (LoadRaw.py:160-166). */
  def initializeDatabase(): Unit = {
    spark.sql(VaultSql.createDatabase(stagingDatabaseName, stagingDatabasePath))
    spark.sql(VaultSql.createDatabase(rawDatabaseName, rawDatabasePath))
  }

  // ---- DDL (LoadRaw.py:100-167): create-if-not-exists, typed by SQL
  //      string like the reference ----

  private def createTable(name: String, columns: Seq[(String, String, Boolean)]): Unit = {
    val schema = StructType(columns.map { case (n, t, nullable) =>
      StructField(n, DataType.fromDDL(t), nullable)
    })
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("ignore").saveAsTable(rawName(name))
  }

  def createHub(name: String, businessKeyColumns: Seq[(String, String)]): Unit =
    createTable(name,
      Seq((Hkey, "STRING", false), (LoadDate, "TIMESTAMP", false),
        (LastSeenDate, "TIMESTAMP", false), (RecordSource, "STRING", false)) ++
        businessKeyColumns.map { case (n, t) => (n, t, true) })

  def createLink(name: String, foreignHashKeyColumns: Seq[String]): Unit =
    createTable(name,
      Seq((Hkey, "STRING", false), (LoadDate, "TIMESTAMP", false),
        (LastSeenDate, "TIMESTAMP", false), (RecordSource, "STRING", false)) ++
        foreignHashKeyColumns.map((_, "STRING", true)))

  def createSatellite(name: String, attributeColumns: Seq[(String, String)]): Unit =
    createTable(name,
      Seq((Hkey, "STRING", false), (Hdiff, "STRING", false),
        (LoadDate, "TIMESTAMP", false), (LoadEndDate, "TIMESTAMP", true)) ++
        attributeColumns.map { case (n, t) => (n, t, true) })

  // ---- Staging (LoadRaw.py:397-425) ----

  def stageTable(name: String, source: String, hkeyColumns: Seq[String] = Nil): Unit = {
    val df = spark.read.parquet(s"$sourceBasePath/$source")
    decorateStaged(df, loadDateCol, sourceSystemName, hkeyColumns)
      .write.mode("overwrite").saveAsTable(s"$stagingDatabaseName.`$name`")
  }

  // ---- Loads (LoadRaw.py:169-395) ----

  private def rawName(name: String) = s"$rawDatabaseName.`$name`"

  /** Replace a raw-vault table with its computed new state — the
    * parquet-storage stand-in for the reference's Delta MERGE. The state
    * frame reads the live table while it writes the stage, and the live
    * table is dropped only once the stage has committed, so a load that
    * fails mid-write leaves the table as it was. */
  private def overwriteWithState(name: String, state: DataFrame): Unit =
    StagedReplace.replaceTable(spark, rawName(name))(
      state.write.saveAsTable(_))

  /** A raw-vault table, after healing a replace a crash interrupted. */
  private def rawTable(name: String): DataFrame = {
    StagedReplace.healTable(spark, rawName(name))
    spark.table(rawName(name))
  }
  private def stagedTable(name: String): DataFrame =
    spark.table(s"$stagingDatabaseName.`$name`")

  def loadHubFromStagingTable(staging: String, hub: String,
      businessKeyColumnNames: Seq[String],
      satellites: Seq[(String, Seq[String])] = Nil): Unit = {
    val common = Seq(Hkey, LoadDate, LastSeenDate, RecordSource)
    val updates = unprefix(
        stagedTable(staging)
          .select((common.map(n => col(s"$DvPrefix$n")) ++
            businessKeyColumnNames.map(col)): _*),
        common)
      .distinct() // batch stamps are constant: duplicate keys collapse
    overwriteWithState(hub, upsertKeyed(rawTable(hub), updates))
    satellites.foreach { case (sat, attrs) =>
      loadSatelliteFromStagingTable(staging, sat, attrs)
    }
  }

  def loadLinkFromLinkStagingTable(staging: String,
      stagingTo: Seq[(String, String, String, String)], link: String,
      satellites: Seq[(String, Seq[String])] = Nil): Unit = {
    // (stagingTable, fkInSource, fkInLinked, hkeyColumnInLink) per leg
    // (LoadRaw.py:205-237): equi-join each leg, project its staged hkey.
    val attrs = satellites.flatMap(_._2).distinct
    val joined = stagingTo.zipWithIndex.foldLeft(stagedTable(staging).alias("f")) {
      case (acc, ((toTable, fkFrom, fkTo, hkeyAs), i)) =>
        val t = stagedTable(toTable)
          .select(col(fkTo).as(s"__to_$i"), col(s"$DvPrefix$Hkey").as(hkeyAs))
        acc.join(t, col(fkFrom) === col(s"__to_$i")).drop(s"__to_$i")
    }
    val hkeyCols = stagingTo.map(_._4)
    val projected = joined
      .select((hkeyCols ++ attrs).map(col): _*)
      .distinct()
    loadLinkFromDf(projected, link, hkeyCols, satellites)
  }

  def loadLinkFromLinkedStagingTables(stagingFrom: String, stagingTo: String,
      fkColumnFrom: String, fkColumnTo: String,
      hkeyFrom: String, hkeyTo: String, link: String): Unit = {
    val from = stagedTable(stagingFrom)
      .select(col(s"$DvPrefix$Hkey").as(hkeyFrom), col(fkColumnFrom))
    val to = stagedTable(stagingTo)
      .select(col(s"$DvPrefix$Hkey").as(hkeyTo), col(fkColumnTo))
    val joined = from.join(to, col(fkColumnFrom) === col(fkColumnTo))
      .select(col(hkeyFrom), col(hkeyTo)).distinct()
    loadLinkFromDf(joined, link, Seq(hkeyFrom, hkeyTo))
  }

  def loadLinkFromQuery(query: String, link: String, hkeyColumns: Seq[String],
      satellites: Seq[(String, Seq[String])] = Nil): Unit =
    loadLinkFromDf(spark.sql(query), link, hkeyColumns, satellites)

  def loadLinkFromDf(df: DataFrame, link: String, hkeyColumns: Seq[String],
      satellites: Seq[(String, Seq[String])] = Nil): Unit = {
    val common = Seq(Hkey, LoadDate, LastSeenDate, RecordSource)
    val updates = df
      .withColumn(Hkey, Dv.hashNames(hkeyColumns))
      .withColumn(LoadDate, loadDateCol)
      .withColumn(LastSeenDate, loadDateCol)
      .withColumn(RecordSource, lit(sourceSystemName))
    // link rows with equal hkey are identical in every kept column
    // (hkey hashes the hkey columns; stamps are batch-constant), so
    // distinct() enforces upsertKeyed's unique-key precondition
    // deterministically even when satellite attrs differed upstream.
    overwriteWithState(link,
      upsertKeyed(rawTable(link),
        updates.select((common ++ hkeyColumns).map(col): _*).distinct()))
    satellites.foreach { case (sat, attrs) =>
      loadSatelliteFromDf(updates, sat, attrs)
    }
  }

  def loadSatelliteFromStagingTable(staging: String, sat: String,
      attributeColumnNames: Seq[String]): Unit =
    loadSatelliteFromDf(stagedTable(staging), sat, attributeColumnNames)

  def loadSatelliteFromLinkedStagingTable(stagingRoot: (String, String),
      stagingAttributes: (String, String), sat: String,
      attributeColumnNames: Seq[String]): Unit = {
    // root carries the hkey; attributes live in a second staged table
    // joined on its FK to root (LoadRaw.py:325-349).
    // both staged tables carry the dv__ system columns, so each side
    // projects ONLY what it contributes before the join — otherwise the
    // post-join dv__ references would be ambiguous.
    val root = stagedTable(stagingRoot._1)
      .select(col(s"$DvPrefix$Hkey"), col(s"$DvPrefix$LoadDate"),
        col(stagingRoot._2).as("__root_key"))
    val attrs = stagedTable(stagingAttributes._1)
      .select((col(stagingAttributes._2).as("__attr_key") +:
        attributeColumnNames.map(col)): _*)
    val joined = attrs.join(root, col("__attr_key") === col("__root_key"))
      .select((Seq(s"$DvPrefix$Hkey", s"$DvPrefix$LoadDate") ++
        attributeColumnNames).map(col): _*)
    loadSatelliteFromDf(joined, sat, attributeColumnNames)
  }

  def loadSatelliteFromQuery(query: String, sat: String,
      attributeColumnNames: Seq[String],
      hkeyColumnNames: Option[Seq[String]] = None): Unit =
    loadSatelliteFromDf(spark.sql(query), sat, attributeColumnNames, hkeyColumnNames)

  def loadSatelliteFromDf(df: DataFrame, sat: String,
      attributeColumnNames: Seq[String],
      hkeyColumnNames: Option[Seq[String]] = None): Unit = {
    val common = Seq(Hkey, Hdiff, LoadDate, LoadEndDate)
    var updates = unprefix(df, Seq(Hkey, LoadDate))
    hkeyColumnNames.foreach(ks => updates = updates.withColumn(Hkey, Dv.hashNames(ks)))
    updates = updates
      .withColumn(Hdiff, Dv.hashNames(attributeColumnNames))
      .withColumn(LoadEndDate, lit(null).cast(TimestampType))
      .select((common ++ attributeColumnNames).map(col): _*)
    overwriteWithState(sat, upsertSatellite(rawTable(sat), updates))
  }
}
