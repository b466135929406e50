package graft.vault

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Business-vault derivations: PIT tables, historized zip-joins, link
  * traversal and read paths. Functional core mirroring BusinessVault.py.
  */
object BusinessVaultOps {

  /** PIT rows for a single satellite (BusinessVault.py:35-104).
    *
    * The reference builds `LOAD_END_DATE` with a `l.LOAD_DATE < r.LOAD_DATE`
    * self-join + groupBy-min (an O(n·versions) shuffle). Because
    * (HKEY, LOAD_DATE) is unique in a satellite (anti-join dedup), the
    * idiomatic-and-identical Spark form is a `lead` window — one shuffle by
    * HKEY instead of a self-join (SURVEY §2.6). We keep the reference's
    * delete-interval semantics verbatim: a delete event closes the version
    * it falls into; open intervals become the max-timestamp sentinel.
    */
  def pitFromSatAndEff(sat: DataFrame, eff: DataFrame)(
      implicit c: Conventions): DataFrame = {
    val w = Window.partitionBy(c.hkey).orderBy(c.loadDate)
    val pit = sat
      .select(col(c.hkey), col(c.loadDate))
      .withColumn(c.loadEndDate, lead(c.loadDate, 1).over(w))

    val deletes = eff
      .filter(col(c.deleted) === true)
      .select(col(c.hkey).as("del_hkey"), col(c.loadDate).as("del_load_date"))

    // delete date inside (load_date, load_end_date), or after load_date
    // with an open end (BusinessVault.py:72-91)
    val joinCond =
      (pit(c.hkey) === deletes("del_hkey")) &&
        (pit(c.loadDate) < deletes("del_load_date")) &&
        (pit(c.loadEndDate) > deletes("del_load_date") || pit(c.loadEndDate).isNull)

    pit
      .join(deletes, joinCond, "left")
      .withColumn(c.loadEndDate,
        when(deletes("del_load_date").isNotNull, deletes("del_load_date"))
          .otherwise(col(c.loadEndDate)))
      .withColumn(c.loadEndDate,
        when(isnull(col(c.loadEndDate)), Dv.maxTimestamp)
          .otherwise(col(c.loadEndDate)))
      .drop("del_hkey", "del_load_date")
      // several delete events can fall inside one version interval (the
      // effectivity sat dedups only on (HKEY, LOAD_DATE)); the version
      // closes at the EARLIEST of them — without this a PIT row would
      // duplicate per matching delete and fan out every read join
      .groupBy(col(c.hkey), col(c.loadDate))
      .agg(min(c.loadEndDate).as(c.loadEndDate))
  }

  /** SCD2 view of a satellite: `$__LOAD_END_DATE` derived per HKEY as
    * the next version's load date (null = current). This is the v2
    * library's MERGE-maintained end-dating (LoadRaw.py:497-535)
    * re-expressed for append-only storage: end dates are derived at
    * read with one lead window — same query semantics, no table
    * rewrite on load, which is the shape that scales.
    */
  def scd2View(sat: DataFrame)(implicit c: Conventions): DataFrame = {
    val w = Window.partitionBy(c.hkey).orderBy(c.loadDate)
    sat.withColumn(c.loadEndDate, lead(c.loadDate, 1).over(w))
  }

  /** Current (open) versions of an SCD2 satellite view. */
  def scd2Current(sat: DataFrame)(implicit c: Conventions): DataFrame =
    scd2View(sat).filter(col(c.loadEndDate).isNull).drop(c.loadEndDate)

  /** Latest version per (id, group) of a code-reference table
    * (BusinessVault.py:107-128). The reference uses groupBy-max + self
    * equi-join; window `row_number` is the single-shuffle equivalent. */
  def activeCodeReferenceRows(ref: DataFrame, idColumn: String)(
      implicit c: Conventions): DataFrame = {
    val w = Window.partitionBy(col(idColumn), col(c.group))
      .orderBy(col(c.loadDate).desc)
    ref.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hub ⋈ SAT ⋈ PIT read path (BusinessVault.py:136-172): PIT equi-joins
    * SAT on (HKEY, LOAD_DATE) and HUB on HKEY; attributes are routed to
    * whichever table carries them; the PIT validity interval is appended. */
  def readDataFromHubSatAndPit(hub: DataFrame, sat: DataFrame, pit: DataFrame,
      attributes: Seq[String], includeHkey: Boolean = false)(
      implicit c: Conventions): DataFrame = {
    // route in CALLER order (set intersection would give hash order) and
    // with hub priority, so an attribute present on both sides is
    // selected once instead of producing an ambiguous duplicate
    val hubNames = attributes.filter(hub.columns.contains)
    val hubAttrs = hubNames.map(hub(_)) ++
      (if (includeHkey) Seq(hub(c.hkey)) else Nil)
    val satAttrs = attributes
      .filter(a => sat.columns.contains(a) && !hubNames.contains(a))
      .map(sat(_))
    pit
      .join(sat, pit(c.hkey) === sat(c.hkey) && pit(c.loadDate) === sat(c.loadDate))
      .join(hub, hub(c.hkey) === pit(c.hkey))
      .select(hubAttrs ++ satAttrs ++
        Seq(pit(c.loadDate).as(c.loadDate), pit(c.loadEndDate).as(c.loadEndDate)): _*)
  }

  /** Historized zip-join ("as-of overlap" join, BusinessVault.py:190-249):
    * join on `on`, keep interval-overlapping pairs, result validity is
    * `[greatest(starts), least(ends)]`. The null-admitting overlap filters
    * are observable reference behavior — kept verbatim.
    */
  def zipHistorizedDataframes(
      left: DataFrame, right: DataFrame, on: Column, how: String = "inner",
      leftLoadDate: Option[Column] = None, leftLoadEndDate: Option[Column] = None,
      rightLoadDate: Option[Column] = None, rightLoadEndDate: Option[Column] = None,
      loadDateColumn: Option[String] = None, loadEndDateColumn: Option[String] = None)(
      implicit c: Conventions): DataFrame = {
    val lStart = leftLoadDate.getOrElse(left(c.loadDate))
    val lEnd = leftLoadEndDate.getOrElse(left(c.loadEndDate))
    val rStart = rightLoadDate.getOrElse(right(c.loadDate))
    val rEnd = rightLoadEndDate.getOrElse(right(c.loadEndDate))
    val outStart = loadDateColumn.getOrElse(c.loadDate)
    val outEnd = loadEndDateColumn.getOrElse(c.loadEndDate)
    val tmpStart = c.tmp(c.loadDate)
    val tmpEnd = c.tmp(c.loadEndDate)

    left.join(right, on, how)
      .filter(rEnd.isNull || lStart.isNull || (rEnd > lStart))
      .filter(lEnd.isNull || rStart.isNull || (lEnd > rStart))
      .withColumn(tmpStart, greatest(lStart, rStart))
      .withColumn(tmpEnd, least(lEnd, rEnd))
      .drop(lStart).drop(lEnd).drop(rStart).drop(rEnd)
      .withColumnRenamed(tmpStart, outStart)
      .withColumnRenamed(tmpEnd, outEnd)
  }

  /** Link-traversal join (BusinessVault.py:278-341): link right-joins the
    * origin on its HKEY, then zip-joins the target historized frame. */
  def joinLinkedDataframes(
      fromDf: DataFrame, toDf: DataFrame, lnkDf: DataFrame,
      lnkFromHkeyColumnName: String, lnkToHkeyColumnName: String,
      fromDfHkey: Option[Column] = None, toDfHkey: Option[Column] = None,
      fromLoadDate: Option[Column] = None, fromLoadEndDate: Option[Column] = None,
      toLoadDate: Option[Column] = None, toLoadEndDate: Option[Column] = None,
      loadDateColumn: Option[String] = None, loadEndDateColumn: Option[String] = None,
      includeHkeys: Boolean = false)(implicit c: Conventions): DataFrame = {
    val fromHk = fromDfHkey.getOrElse(fromDf(c.hkey))
    val toHk = toDfHkey.getOrElse(toDf(c.hkey))

    val lnkJoined = lnkDf
      .drop(lnkDf(c.loadDate))
      .join(fromDf, lnkDf(lnkFromHkeyColumnName) === fromHk, "right")
      .drop(lnkDf(c.hkey))
      .drop(lnkDf(c.recordSource))

    val zipped = zipHistorizedDataframes(
      lnkJoined, toDf, lnkDf(lnkToHkeyColumnName) === toHk, "left",
      fromLoadDate, fromLoadEndDate, toLoadDate, toLoadEndDate,
      loadDateColumn, loadEndDateColumn)
      .drop(lnkFromHkeyColumnName)
      .drop(lnkToHkeyColumnName)

    if (includeHkeys) zipped else zipped.drop(c.hkey)
  }
}

/** Catalog-backed business vault (BusinessVault.py public API). Derived
  * tables (PIT, active code references) land in `businessDatabase` when
  * given, else alongside the raw vault. */
class BusinessVault(val spark: SparkSession, val rawDatabase: String,
    val businessDatabase: Option[String] = None,
    val basePath: Option[String] = None)(
    implicit val conventions: Conventions) {
  private val c = conventions
  import BusinessVaultOps._

  private val outDatabase: String = businessDatabase.getOrElse(rawDatabase)

  private def rawTable(name: String): DataFrame =
    spark.table(s"$rawDatabase.`$name`")

  /** Create the derived-table database, optionally at an explicit
    * warehouse LOCATION (BusinessVault.py:130-134). */
  def initializeDatabase(): Unit =
    spark.sql(VaultSql.createDatabase(outDatabase, basePath))

  def createPointInTimeTableForSingleSatellite(pitName: String,
      satelliteName: String): Unit = {
    val sat = rawTable(c.satName(satelliteName))
    val eff = rawTable(c.effectivitySatName(satelliteName))
    pitFromSatAndEff(sat, eff)
      .write.mode("overwrite")
      .saveAsTable(s"$outDatabase.`${c.pitName(pitName)}`")
  }

  def createActiveCodeReferenceTable(refTableName: String,
      refActiveTableName: String, idColumn: String): Unit =
    activeCodeReferenceRows(rawTable(refTableName), idColumn)
      .write.mode("overwrite")
      .saveAsTable(s"$outDatabase.`$refActiveTableName`")

  def readDataFromHubSatAndPit(hubName: String, satName: String, pitName: String,
      attributes: Seq[String], includeHkey: Boolean = false): DataFrame =
    BusinessVaultOps.readDataFromHubSatAndPit(
      rawTable(hubName), rawTable(satName),
      spark.table(s"$outDatabase.`$pitName`"),
      attributes, includeHkey)

  def readDataFromHub(name: String, attributes: Seq[String],
      includeHkey: Boolean = false): DataFrame =
    readDataFromHubSatAndPit(c.hubName(name), c.satName(name), c.pitName(name),
      attributes, includeHkey)

  def zipHistorizedDataframes(left: DataFrame, right: DataFrame, on: Column,
      how: String = "inner"): DataFrame =
    BusinessVaultOps.zipHistorizedDataframes(left, right, on, how)

  def joinLinkedDataframes(fromDf: DataFrame, toDf: DataFrame,
      linkTableName: String, lnkFromHkeyColumnName: String,
      lnkToHkeyColumnName: String, includeHkeys: Boolean = false): DataFrame =
    BusinessVaultOps.joinLinkedDataframes(
      fromDf, toDf, rawTable(c.linkName(linkTableName)),
      lnkFromHkeyColumnName, lnkToHkeyColumnName, includeHkeys = includeHkeys)

  def joinLinkedHubs(fromName: String, toName: String, linkTableName: String,
      fromHkeyColumnName: String, toHkeyColumnName: String,
      fromAttributes: Seq[String], toAttributes: Seq[String],
      includeHkeys: Boolean = true): DataFrame =
    joinLinkedDataframes(
      readDataFromHub(fromName, fromAttributes, includeHkey = true),
      readDataFromHub(toName, toAttributes, includeHkey = true),
      linkTableName, fromHkeyColumnName, toHkeyColumnName, includeHkeys)
}
