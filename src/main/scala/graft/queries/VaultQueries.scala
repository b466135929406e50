package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.vault.{BusinessVault, BusinessVaultOps, CdcOp, ColumnDefinition,
  ColumnReference, Conventions, Curated, Dv, FieldDefinition, ForeignKey,
  LinkedHubDefinition, RawVault, RawVaultConfig, RawVaultOps,
  SatelliteDefinition, TypelistsConfig}

/** Data Vault operator coverage driven through the real engine code
  * (RawVaultOps / BusinessVaultOps), using `events` as a CDC feed:
  * signup→CREATE, error→DELETE, purchase→UPDATE, view→BEFORE_UPDATE,
  * click→SNAPSHOT. The entity key is user_id (HKEY = md5(user_id)).
  *
  * Timestamps are truncated to milliseconds on both engines and emitted
  * as epoch-ms bigints; "already loaded" vault contents are simulated
  * deterministically as the event_id % 3 == 0 slice of the same feed.
  */
object VaultQueries {

  implicit private val c: Conventions = Conventions.default

  /** events → prepared-staging shape (the stage_table_df contract). */
  private def stagedEvents(s: SparkSession, d: String): DataFrame =
    stagedFeed(Tables.events(s, d))

  /** The same staging applied to any events-shaped frame (w04 stages
    * each micro-batch through here so stream and batch derive the CDC
    * columns from ONE definition). Expects a canonical TimestampType
    * `ts` (route raw bytes through [[Tables.normalizeTs]] first). */
  private def stagedFeed(events: DataFrame): DataFrame =
    events
      .withColumn(c.operation,
        when(col("event_type") === "signup", CdcOp.Create)
          .when(col("event_type") === "error", CdcOp.Delete)
          .when(col("event_type") === "purchase", CdcOp.Update)
          .when(col("event_type") === "view", CdcOp.BeforeUpdate)
          .otherwise(CdcOp.Snapshot))
      .withColumn(c.loadDate, unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .withColumn(c.cdcLoadDate, col(c.loadDate))
      .withColumn(c.recordSource, lit("events"))
      .withColumn(c.hkey, Dv.hash(Seq(col("user_id"))))

  /** Common SQL prelude: the staged CDC feed as DuckDB sees it. */
  private val stagedSql =
    """staged AS (
         SELECT md5(user_id::VARCHAR) AS hkey,
           epoch_ms(date_trunc('milliseconds', ts)) AS ld,
           CASE event_type WHEN 'signup' THEN 2 WHEN 'error' THEN 1
             WHEN 'purchase' THEN 4 WHEN 'view' THEN 3 ELSE 0 END AS op,
           user_id, event_id, event_type, props, value
         FROM events)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1: hub load — insert-if-absent on HKEY (anti-join + distinct).
    // Users with even user_id are already in the hub.
    "v01_hub_rows" -> ((s, d) => {
      val staged = stagedEvents(s, d)
      val hub = staged.filter(col("user_id") % 2 === 0)
        .select(col(c.hkey), col(c.loadDate), col(c.recordSource), col("user_id"))
        .distinct()
      RawVaultOps.newHubRows(staged, hub, Seq("user_id"))
        .select(col(c.hkey).as("hkey"), col(c.recordSource).as("record_source"),
          col("user_id"))
        .distinct() // output drops LOAD_DATE, so re-dedup on the kept columns
    }),

    // J2: satellite load — CDC op filter {CREATE, UPDATE, SNAPSHOT},
    // HDIFF = md5(attrs), anti-join dedup on (HKEY, LOAD_DATE).
    "v02_sat_rows" -> ((s, d) => {
      val staged = stagedEvents(s, d)
      val attrs = Seq("event_type", "props")
      val existing = staged
        .filter(col("event_id") % 3 === 0 &&
          col(c.operation).isin(CdcOp.Create, CdcOp.Update, CdcOp.Snapshot))
        .select(col(c.hkey), col(c.loadDate))
      RawVaultOps.newSatelliteRows(staged, existing, attrs)
        .select(col(c.hkey).as("hkey"), col(c.hdiff).as("hdiff"),
          col(c.loadDate).as("load_ms"), col("event_type"), col("props"))
    }),

    // Effectivity satellite load — ops {CREATE, DELETE, SNAPSHOT},
    // $__DELETED = (op == DELETE), HDIFF = md5(deleted).
    "v03_eff_rows" -> ((s, d) => {
      val staged = stagedEvents(s, d)
      val existing = staged
        .filter(col("event_id") % 3 === 0 &&
          col(c.operation).isin(CdcOp.Create, CdcOp.Delete, CdcOp.Snapshot))
        .select(col(c.hkey), col(c.loadDate))
      RawVaultOps.newEffectivityRows(staged, existing)
        .select(col(c.hkey).as("hkey"), col(c.hdiff).as("hdiff"),
          col(c.loadDate).as("load_ms"), col(c.deleted).as("deleted"))
    }),

    // J3/J6: link load — link HKEY = md5(member hub HKEYs), anti-join on
    // link HKEY. orders→customer is the link; orderkey < 1000 pre-loaded.
    "v04_link_rows" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .withColumn("order_hkey", Dv.hash(Seq(col("o_orderkey"))))
        .withColumn("cust_hkey", Dv.hash(Seq(col("o_custkey"))))
        .withColumn("link_hkey", Dv.hashNames(Seq("order_hkey", "cust_hkey")))
      val existing = ord.filter(col("o_orderkey") < 1000).select("link_hkey")
      ord.join(existing.withColumnRenamed("link_hkey", "ex"),
          col("link_hkey") === col("ex"), "left_anti")
        .select("link_hkey", "order_hkey", "cust_hkey")
        .distinct()
    }),

    // REF (code/grouped) load: $__GROUP column, composite anti-join on
    // (group, id, load_date).
    "v05_code_ref_rows" -> ((s, d) => {
      val staged = stagedEvents(s, d).filter(col("event_type") === "click")
      val existing = staged.filter(col("event_id") % 3 === 0)
        .withColumn(c.group, lit("click"))
        .select(col(c.group), col("user_id"), col(c.loadDate))
      RawVaultOps.newCodeReferenceRows(staged, existing, "CLICK", "user_id", Seq("props"))
        .select(col(c.group).as("ref_group"), col("user_id"),
          col(c.hdiff).as("hdiff"), col(c.loadDate).as("load_ms"), col("props"))
    }),

    // J8/J9/A1: PIT build through BusinessVaultOps.pitFromSatAndEff —
    // versions closed by the next version or by a delete event falling
    // inside the interval; open intervals get the max-timestamp sentinel.
    "q19_pit" -> ((s, d) => {
      val staged = stagedEvents(s, d)
        .withColumn(c.loadDate,
          timestamp_millis(col(c.loadDate)))
      val sat = staged
        .filter(col(c.operation).isin(CdcOp.Create, CdcOp.Update, CdcOp.Snapshot))
        .select(col(c.hkey), col(c.loadDate))
      val eff = staged
        .filter(col(c.operation) === CdcOp.Delete)
        .select(col(c.hkey), col(c.loadDate), lit(true).as(c.deleted))
      BusinessVaultOps.pitFromSatAndEff(sat, eff)
        .groupBy(col(c.hkey), col(c.loadDate))
        .agg(min(col(c.loadEndDate)).as("end_ts"))
        .select(col(c.hkey).as("hkey"),
          unix_millis(col(c.loadDate)).as("start_ms"),
          unix_millis(col("end_ts")).as("end_ms"))
    }),

    // J11/F5: historized zip-join through zipHistorizedDataframes —
    // purchase validity intervals × error intervals per user, overlap
    // semantics with the reference's null-admitting filters.
    "q16_zip_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def intervals(eventType: String, idAlias: String, userCol: String) = {
        val w = Window.partitionBy("user_id").orderBy("start0", "event_id")
        ev.filter(col("event_type") === eventType)
          .select(col("user_id"), col("event_id"),
            unix_millis(date_trunc("MILLISECOND", col("ts"))).as("start0"))
          .withColumn("end0", lead("start0", 1).over(w))
          .select(col("user_id").as(userCol), col("event_id").as(idAlias),
            col("start0").as(c.loadDate), col("end0").as(c.loadEndDate))
      }
      val l = intervals("purchase", "l_event_id", "user_id")
      val r = intervals("error", "r_event_id", "r_user")
      BusinessVaultOps.zipHistorizedDataframes(
          l, r, l("user_id") === r("r_user"), "inner")
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          col(c.loadDate).as("start_ms"), col(c.loadEndDate).as("end_ms"))
    }),

    // Staging snapshot-override: SNAPSHOT rows (op < 1) carry their
    // business timestamp instead of the CDC load date — the
    // prepareStaged contract, driven through the real function.
    "v06_snapshot_override" -> ((s, d) => {
      val raw = Tables.events(s, d)
        .withColumn("OPERATION",
          when(col("event_type") === "signup", CdcOp.Create)
            .when(col("event_type") === "error", CdcOp.Delete)
            .otherwise(CdcOp.Snapshot))
        .withColumn("LOAD_DATE", unix_millis(date_trunc("MILLISECOND", col("ts"))))
        .withColumn("SNAP_TS", col("LOAD_DATE") + 3600000L)
      RawVaultOps.prepareStaged(raw, "events", "LOAD_DATE", "OPERATION",
          hkeyColumns = Seq("user_id"), snapshotOverrideColumn = Some("SNAP_TS"))
        .select(col(c.hkey).as("hkey"), col("event_id"),
          col(c.operation).as("op"), col(c.loadDate).as("load_ms"))
    }),

    // J18: SCD2 end-dating as a lead window (the semantics-preserving
    // rewrite of the reference's full-outer self-join).
    "q17_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase", "click"))
        .select(col("user_id"), col("event_id"),
          unix_millis(date_trunc("MILLISECOND", col("ts"))).as("load_ms"))
        .withColumn("end_ms",
          coalesce(lead("load_ms", 1).over(w), lit(253402300799999L)))
    }),

    // Window-based link reconciliation (the BDD-specified semantics)
    // through the real code: each user's purchase/error feed acts as FK
    // state events (error = delete → null state); output is the link
    // effectivity history. One event per (user, ms) keeps ordering
    // deterministic on both engines.
    "v09_link_reconcile" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .withColumn("ld", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      val w1 = Window.partitionBy("user_id", "ld").orderBy("event_id")
      val one = ev.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      val fkEvents = one.select(
        Dv.hash(Seq(col("user_id"))).as("FROM_HKEY"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(Dv.hash(Seq(col("event_type")))).as("TO_HKEY"),
        col("ld").as(c.loadDate), col("event_id"))
      val emptyLink = fkEvents.limit(0).select(lit("").as(c.hkey),
        lit(0L).as(c.loadDate), lit("").as(c.recordSource),
        lit("").as("FROM_HKEY"), lit("").as("TO_HKEY"))
      val emptyEff = fkEvents.limit(0).select(lit("").as(c.hkey),
        lit("").as(c.hdiff), lit(0L).as(c.loadDate), lit(false).as(c.deleted))
      val (_, eff) = RawVaultOps.reconcileLinkStates(
        fkEvents, emptyLink, emptyEff, "FROM_HKEY", "TO_HKEY", "events",
        clock = lit(0L), tieBreak = col("event_id"))
      eff.select(col(c.hkey).as("hkey"), col(c.loadDate).as("ld"),
        col(c.deleted).as("deleted"))
    }),

    // v2 mode (LoadRaw.py): SCD2 satellite end-dating through the real
    // upsert code. Versions = one row per (customer, order status) with
    // its earliest order date; superseded versions close at the next
    // strictly-later distinct date of the same key.
    "v07_v2_enddate" -> ((s, d) => {
      import graft.vault.LoadRawV2Ops
      val versions = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(min("o_orderdate").as("od"))
        .select(
          Dv.hash(Seq(col("o_custkey"))).as(LoadRawV2Ops.Hkey),
          Dv.hash(Seq(col("o_orderstatus"))).as(LoadRawV2Ops.Hdiff),
          unix_millis(col("od").cast("timestamp")).as(LoadRawV2Ops.LoadDate),
          lit(null).cast("long").as(LoadRawV2Ops.LoadEndDate),
          col("o_orderstatus").as("status"))
      LoadRawV2Ops.upsertSatellite(versions.limit(0), versions)
        .select(col(LoadRawV2Ops.Hkey).as("hkey"),
          col(LoadRawV2Ops.Hdiff).as("hdiff"),
          col(LoadRawV2Ops.LoadDate).as("ld"),
          col(LoadRawV2Ops.LoadEndDate).as("led"), col("status"))
    }),

    // S5/S6/S10 through the oracle gate: a full load through the
    // catalog-backed engine — databases created at an explicit warehouse
    // LOCATION, bucketed saveAsTable writes, REFRESH, then a re-read of
    // hub + satellite off the catalog. The DB is rebuilt from scratch
    // every run, so the output is a pure function of the CDC feed.
    "v10_catalog_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      val loc = graft.sources.Scratch.dir("v10", d)
      s.sql("DROP DATABASE IF EXISTS v10_raw CASCADE")
      s.sql("DROP DATABASE IF EXISTS v10_stg CASCADE")
      val config = RawVaultConfig(
        stagingBasePath = loc,
        stagingPreparedDatabase = "v10_stg",
        rawDatabase = "v10_raw",
        partitionSize = 4,
        stagingPreparedBasePath = Some(s"$loc/stg.db"),
        rawBasePath = Some(s"$loc/raw.db"))
      val vault = new RawVault(s, config, "events",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      vault.initializeDatabase()
      val sat = SatelliteDefinition("SAT__USERS", Seq(
        ColumnDefinition("event_type", StringType),
        ColumnDefinition("props", StringType)))
      vault.createHub("USERS", Seq(ColumnDefinition("user_id", LongType)))
      vault.createSatellite("USERS", sat.attributes)
      val staged = stagedEvents(s, d)
        .withColumn(c.loadDate, timestamp_millis(col(c.loadDate)))
      vault.loadHub(staged, "USERS", Seq("user_id"), Seq(sat))
      val hub = s.table("v10_raw.`HUB__USERS`").select(col(c.hkey), col("user_id"))
      s.table("v10_raw.`SAT__USERS`")
        .join(hub, Seq(c.hkey))
        .select(col(c.hkey).as("hkey"), col("user_id"),
          col(c.hdiff).as("hdiff"), unix_millis(col(c.loadDate)).as("load_ms"),
          col("event_type"), col("props"))
    }),

    // The curated layer end-to-end (Curated.py:196-271) through the real
    // engine: load a supplier/nation vault + USER/CREDENTIAL dimension +
    // grouped typelist off the parquet fixtures, then mapToCurated with
    // a rename, a typelist field, a *UserID enrichment, an FK→PublicID
    // resolution, and the temporal zip-join of NATION onto SUPPLIER.
    // Single-batch load at a fixed t0 ⇒ every validity interval is
    // [t0, max-sentinel], so the DuckDB mirror is the flat join.
    "v11_curated_view" -> ((s, d) => {
      import org.apache.spark.sql.types.{IntegerType, StringType}
      import s.implicits._
      val t0 = lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
      val loc = graft.sources.Scratch.dir("v11", d)
      // databases are keyed by scale factor (the e07 graft_vecstore.v_<sf>
      // idiom): concurrent runs at different sf must not clobber each
      // other's fixed-name catalog state
      val sfx = graft.sources.Scratch.sfKey(d)
      val rawDb = s"v11_raw_$sfx"
      val stgDb = s"v11_stg_$sfx"
      s.sql(s"DROP DATABASE IF EXISTS $rawDb CASCADE")
      s.sql(s"DROP DATABASE IF EXISTS $stgDb CASCADE")
      val config = RawVaultConfig(
        stagingBasePath = loc,
        stagingPreparedDatabase = stgDb,
        rawDatabase = rawDb,
        partitionSize = 4,
        stagingPreparedBasePath = Some(s"$loc/stg.db"),
        rawBasePath = Some(s"$loc/raw.db"))
      val vault = new RawVault(s, config, "v11_src",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      vault.initializeDatabase()
      val business = new BusinessVault(s, config.rawDatabase)

      def batch(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$loc/$name.parquet")
      def loadEntity(name: String, attrs: Seq[ColumnDefinition], df: DataFrame): Unit = {
        vault.createHub(name, Seq(ColumnDefinition("PublicID", StringType)))
        vault.createSatellite(name, attrs)
        batch(name, df)
        vault.loadHubFromSourceTable(name, name, Seq("PublicID"),
          Seq(SatelliteDefinition(c.satName(name), attrs)))
        business.createPointInTimeTableForSingleSatellite(name, name)
      }

      val stamp = Seq(lit(0).as("OPERATION"), t0.as("LOAD_DATE"))
      loadEntity("CC_SUPPLIER",
        Seq(ColumnDefinition("s_name", StringType),
          ColumnDefinition("Tier", StringType),
          ColumnDefinition("CreateUserID", IntegerType),
          ColumnDefinition("NationID", IntegerType),
          ColumnDefinition("retired", IntegerType)),
        Tables.supplier(s, d).select(stamp ++ Seq(
          concat(lit("s"), col("s_suppkey")).as("PublicID"),
          col("s_name").cast("string").as("s_name"),
          (col("s_suppkey") % 3).cast("string").as("Tier"),
          (col("s_suppkey") % 10).cast("int").as("CreateUserID"),
          col("s_nationkey").cast("int").as("NationID"),
          when(col("s_suppkey") % 7 === 0, 1).otherwise(0).as("retired")): _*))
      loadEntity("CC_NATION",
        Seq(ColumnDefinition("NationName", StringType),
          ColumnDefinition("retired", IntegerType)),
        Tables.nation(s, d).select(stamp ++ Seq(
          concat(lit("n"), col("n_nationkey")).as("PublicID"),
          col("n_name").cast("string").as("NationName"),
          lit(0).as("retired")): _*))
      loadEntity("CC_REGION",
        Seq(ColumnDefinition("RegionName", StringType),
          ColumnDefinition("retired", IntegerType)),
        Tables.region(s, d).select(stamp ++ Seq(
          concat(lit("r"), col("r_regionkey")).as("PublicID"),
          col("r_name").cast("string").as("RegionName"),
          lit(0).as("retired")): _*))
      val uids = Tables.supplier(s, d)
        .select((col("s_suppkey") % 10).cast("int").as("uid")).distinct()
      loadEntity("USER", Seq(ColumnDefinition("ID", IntegerType)),
        uids.select(stamp ++ Seq(
          concat(lit("u"), col("uid")).as("PublicID"), col("uid").as("ID")): _*))
      loadEntity("CREDENTIAL", Seq(ColumnDefinition("UserName", StringType)),
        uids.select(stamp ++ Seq(
          concat(lit("cr"), col("uid")).as("PublicID"),
          concat(lit("user_"), col("uid")).as("UserName")): _*))

      def loadLink(source: String, from: String, to: String, name: String,
          df: DataFrame): Unit = {
        vault.createLink(name, Seq(s"${from}_HKEY", s"${to}_HKEY"))
        batch(source, df)
        vault.loadLinkFromSourceTable(source,
          Seq(LinkedHubDefinition(from, s"${from}_HKEY",
            ForeignKey("FROM_ID", ColumnReference(s"HUB__$from", "PublicID"))),
            LinkedHubDefinition(to, s"${to}_HKEY",
              ForeignKey("TO_ID", ColumnReference(s"HUB__$to", "PublicID")))),
          name)
      }
      loadLink("SUP_NAT", "SUPPLIER", "NATION", "SUPPLIER__NATION",
        Tables.supplier(s, d).select(stamp ++ Seq(
          concat(lit("s"), col("s_suppkey")).as("FROM_ID"),
          concat(lit("n"), col("s_nationkey")).as("TO_ID")): _*))
      loadLink("SUP_REG", "SUPPLIER", "REGION", "SUPPLIER__REGION",
        Tables.supplier(s, d)
          .join(Tables.nation(s, d),
            col("s_nationkey") === col("n_nationkey"))
          .select(stamp ++ Seq(
            concat(lit("s"), col("s_suppkey")).as("FROM_ID"),
            concat(lit("r"), col("n_regionkey")).as("TO_ID")): _*))
      loadLink("USER_CRED", "USER", "CREDENTIAL", "USER__CREDENTIAL",
        uids.select(stamp ++ Seq(
          concat(lit("u"), col("uid")).as("FROM_ID"),
          concat(lit("cr"), col("uid")).as("TO_ID")): _*))

      vault.createCodeReferenceTable("TYPELISTS",
        ColumnDefinition("ID", StringType),
        Seq(ColumnDefinition("typecode", StringType),
          ColumnDefinition("name", StringType),
          ColumnDefinition("L_de", StringType)))
      batch("TIER", Seq(
        ("0", "bronze", "Bronze", "Bronze (DE)"),
        ("1", "silver", "Silver", "Silber"),
        ("2", "gold", "Gold", "Gold (DE)"))
        .toDF("ID", "typecode", "name", "L_de")
        .select(stamp ++ Seq(col("ID"), col("typecode"), col("name"), col("L_de")): _*))
      vault.loadCodeReferencesFromSourceTable("TIER", "TYPELISTS", "ID",
        Seq("typecode", "name", "L_de"))
      business.createActiveCodeReferenceTable("REF__TYPELISTS",
        "REF__TYPELISTS_ACTIVE", "ID")

      val curated = new Curated(s, business,
        TypelistsConfig(s.table(s"$rawDb.`REF__TYPELISTS_ACTIVE`")),
        s"v11_cur_$sfx", config.rawDatabase)
      // the FK target (NATION) and the zip-joined entity (REGION) are
      // distinct so each vault table has exactly one reader — resolving
      // an FK into a table that is also field-projected would self-join
      // its hub/sat/PIT lineage (unsupported in the reference, too)
      curated.mapToCurated(Seq(
          FieldDefinition("CC_SUPPLIER", "s_name", Some("supplier_name")),
          FieldDefinition("CC_SUPPLIER", "Tier",
            isTypelist = true, typelistTableName = Some("tier")),
          FieldDefinition("CC_SUPPLIER", "CreateUserID"),
          FieldDefinition("CC_SUPPLIER", "NationID",
            foreignKey = true, foreignKeyToTableName = Some("CC_NATION")),
          FieldDefinition("CC_REGION", "RegionName")))
        .select(col("supplier_name"), col("Tier").as("tier"),
          col("Tier_en").as("tier_en"), col("Tier_de").as("tier_de"),
          col("CreateUserID").as("create_user"),
          col("CreateUserID_UserName").as("create_user_name"),
          col("NationID").as("nation_id"),
          col("RegionName").as("region_name"),
          unix_millis(col(c.loadDate)).as("start_ms"),
          unix_millis(col(c.loadEndDate)).as("end_ms"))
    }),

    // v2 mode: hub/link last_seen upsert through the real code. Existing
    // state = customers first ordering before 1996; the update batch =
    // 1996+ orders. Matched keys keep their load_date and take the
    // update's last_seen; new keys insert whole.
    "v08_v2_lastseen" -> ((s, d) => {
      import graft.vault.LoadRawV2Ops
      def state(df: DataFrame, seenAgg: Column): DataFrame =
        df.groupBy(col("o_custkey"))
          .agg(min("o_orderdate").as("first_od"), seenAgg.as("seen_od"))
          .select(Dv.hash(Seq(col("o_custkey"))).as(LoadRawV2Ops.Hkey),
            unix_millis(col("first_od").cast("timestamp")).as(LoadRawV2Ops.LoadDate),
            unix_millis(col("seen_od").cast("timestamp")).as(LoadRawV2Ops.LastSeenDate),
            lit("orders").as(LoadRawV2Ops.RecordSource))
      val orders = Tables.orders(s, d)
      val cut = "1996-01-01"
      val existing = state(orders.filter(col("o_orderdate") < lit(cut)), min("o_orderdate"))
      val updates = state(orders.filter(col("o_orderdate") >= lit(cut)), max("o_orderdate"))
      LoadRawV2Ops.upsertKeyed(existing, updates)
        .select(col(LoadRawV2Ops.Hkey).as("hkey"),
          col(LoadRawV2Ops.LoadDate).as("ld"),
          col(LoadRawV2Ops.LastSeenDate).as("last_seen"))
    }),

    // Streaming CDC -> vault-core ingest gate: the events feed, split
    // into four micro-batch files PLUS a replayed copy of the first
    // slice (at-least-once delivery), streamed through a REAL
    // readStream file source into CdcStream.foreachBatchLoader driving
    // RawVault.loadHub — which loads hub + satellite + effectivity
    // satellite per batch through the same anti-join kernels as batch —
    // against catalog tables pre-seeded with the v01/v02/v03 "already
    // loaded" slices. The final table states minus the seeds
    // hash-match the v01+v02+v03 batch oracles (as per-table row
    // fingerprints): streaming ingest into the vault core loses
    // nothing and duplicates nothing, INCLUDING under replay. This is
    // the 100 TB deployment story the CdcStream scaladoc describes,
    // gated. Correct because (user_id, ms-truncated ts) is unique in
    // the feed (FixtureSchemaSpec pins it): the loaders' (HKEY,
    // LOAD_DATE) cross-batch anti-join then drops exactly the replayed
    // rows and nothing else, independent of micro-batch order.
    "w04_cdc_vault_stream" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      val loc = graft.sources.Scratch.dir("w04", d)
      val sfx = graft.sources.Scratch.sfKey(d)
      val rawDb = s"w04_raw_$sfx"
      val stgDb = s"w04_stg_$sfx"
      s.sql(s"DROP DATABASE IF EXISTS $rawDb CASCADE")
      s.sql(s"DROP DATABASE IF EXISTS $stgDb CASCADE")
      // non-bucketed tables: the task-aligned bucketed sink is v10's
      // gate; here plain appends keep the seed writes one-liners
      val config = RawVaultConfig(
        stagingBasePath = loc,
        stagingPreparedDatabase = stgDb,
        rawDatabase = rawDb,
        optimizePartitioning = false,
        stagingPreparedBasePath = Some(s"$loc/stg.db"),
        rawBasePath = Some(s"$loc/raw.db"))
      val vault = new RawVault(s, config, "events",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      vault.initializeDatabase()
      val satDef = SatelliteDefinition(c.satName("USERS"), Seq(
        ColumnDefinition("event_type", StringType),
        ColumnDefinition("props", StringType)))
      vault.createHub("USERS", Seq(ColumnDefinition("user_id", LongType)))
      vault.createSatellite("USERS", satDef.attributes)
      val hubName = c.hubName("USERS")
      val effName = c.effectivitySatName("USERS")

      // seeds: the v01/v02/v03 "already loaded" slices, written into
      // the catalog tables the stream will load against
      val stagedAll = stagedEvents(s, d)
        .withColumn(c.loadDate, timestamp_millis(col(c.loadDate)))
      val hubSeed = stagedAll.filter(col("user_id") % 2 === 0)
        .select(col(c.hkey), col(c.loadDate), col(c.recordSource), col("user_id"))
        .distinct()
      val satSeed = stagedAll.filter(col("event_id") % 3 === 0 &&
          col(c.operation).isin(CdcOp.Create, CdcOp.Update, CdcOp.Snapshot))
        .withColumn(c.hdiff, Dv.hashNames(Seq("event_type", "props")))
        .select(col(c.hkey), col(c.hdiff), col(c.loadDate),
          col("event_type"), col("props"))
        .distinct()
      val effSeed = stagedAll.filter(col("event_id") % 3 === 0 &&
          col(c.operation).isin(CdcOp.Create, CdcOp.Delete, CdcOp.Snapshot))
        .withColumn(c.deleted, col(c.operation) === CdcOp.Delete)
        .withColumn(c.hdiff, Dv.hash(Seq(col(c.deleted))))
        .select(col(c.hkey), col(c.hdiff), col(c.loadDate), col(c.deleted))
        .distinct()
      Seq((hubName, hubSeed), (c.satName("USERS"), satSeed), (effName, effSeed))
        .foreach { case (t, df) =>
          df.write.mode("append").saveAsTable(s"$rawDb.`$t`") }

      // the feed: four deterministic slices, one micro-batch each,
      // then slice 0 AGAIN — the at-least-once redelivery the loaders
      // must absorb. RAW file schema throughout; canonicalization
      // happens per batch via Tables.normalizeTs before staging.
      val raw = Tables.eventsRaw(s, d)
      StreamSlices.replay(s, loc, "w04",
        ((0 until 4) :+ 0).map(i => raw.filter(col("event_id") % 4 === i))) {
        batch =>
          val staged = stagedFeed(graft.sources.Tables.normalizeTs(batch))
            .withColumn(c.loadDate, timestamp_millis(col(c.loadDate)))
          vault.loadHub(staged, "USERS", Seq("user_id"), Seq(satDef))
      }

      val hubNew = s.table(s"$rawDb.`$hubName`")
        .join(hubSeed.select(col(c.hkey)), Seq(c.hkey), "left_anti")
      val satNew = s.table(s"$rawDb.`${c.satName("USERS")}`")
        .join(satSeed.select(col(c.hkey), col(c.loadDate)),
          Seq(c.hkey, c.loadDate), "left_anti")
      val effNew = s.table(s"$rawDb.`$effName`")
        .join(effSeed.select(col(c.hkey), col(c.loadDate)),
          Seq(c.hkey, c.loadDate), "left_anti")
      hubNew.select(lit("hub").as("tbl"), col(c.hkey).as("hkey"),
          md5(concat_ws(",", col(c.recordSource), col("user_id"))).as("fp"))
        .distinct()
        .unionByName(satNew.select(lit("sat").as("tbl"), col(c.hkey).as("hkey"),
          md5(concat_ws(",", col(c.hdiff), unix_millis(col(c.loadDate)),
            col("event_type"), col("props"))).as("fp")))
        .unionByName(effNew.select(lit("eff").as("tbl"), col(c.hkey).as("hkey"),
          md5(concat_ws(",", col(c.hdiff), unix_millis(col(c.loadDate)),
            col(c.deleted))).as("fp")))
    }),

    // Streaming link reconciliation — the hardest CDC kernel under
    // micro-batching: the v09 purchase/error feed sliced into four
    // TIME-ORDERED batches (boundaries on ld VALUES, so every
    // (user, ms) group stays whole and per-batch staging equals the
    // batch query's global staging) plus a REPLAYED middle batch,
    // streamed through readStream -> foreachBatch ->
    // reconcileLinkStates against the accumulating link/eff tables.
    // Batch file order is pinned by explicit modification times (the
    // file source schedules oldest-first). The final effectivity
    // HISTORY hash-matches the one-shot v09 oracle row for row:
    // incremental time-ordered reconciliation appends exactly the
    // one-shot transitions (each batch's seed stands in for the
    // previous batch's last event), and the replayed batch re-derives
    // only transitions that already exist, which effStateDedup's
    // (HKEY, LOAD_DATE) anti-join absorbs — the convergence contract,
    // driver-verified under streaming replay.
    "w05_cdc_link_stream" -> ((s, d) => {
      val loc = graft.sources.Scratch.dir("w05", d)
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .withColumn("ld", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      val w1 = Window.partitionBy("user_id", "ld").orderBy("event_id")
      // persisted: the windowed dedup feeds SIX consumers (the min/max
      // cut aggregate, four slice writes, the replay write) — without
      // the cache each one re-runs the scan + window shuffle (guide §5
      // / the C1 reused-branch pattern); released once the replay
      // drains
      val one = ev.withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "ld", "event_id")
        .persist()

      // Slice boundaries are replay scaffolding: the accumulated vault
      // equals the batch v09 reconcile for ANY ascending ld cuts (the
      // convergence contract), so quarter the ld range with min/max
      // aggregates — O(1) driver memory at any corpus size — each
      // quarter asserted non-empty: an empty slice would make the
      // batch-count check fail spuriously or the replay-absorption
      // claim vacuous (StreamSlices scaladoc).
      val slices = StreamSlices.guardedQuarters(one, col("ld"), "w05")

      // empty schema-carrying seeds for the accumulating tables
      val linkPath = s"$loc/link"
      val effPath = s"$loc/eff"
      val emptyLink = one.limit(0).select(lit("").as(c.hkey),
        lit(0L).as(c.loadDate), lit("").as(c.recordSource),
        lit("").as("FROM_HKEY"), lit("").as("TO_HKEY"))
      val emptyEff = one.limit(0).select(lit("").as(c.hkey),
        lit("").as(c.hdiff), lit(0L).as(c.loadDate), lit(false).as(c.deleted))
      emptyLink.write.mode("overwrite").parquet(linkPath)
      emptyEff.write.mode("overwrite").parquet(effPath)

      // the at-least-once redelivery: the SECOND slice replayed last —
      // its events predate state already recorded by slices 2 and 3
      StreamSlices.replay(s, loc, "w05", slices :+ slices(1)) { batch =>
        // per-batch staging: the same hkey derivation as the v09 query
        val fk = batch.select(
          Dv.hash(Seq(col("user_id"))).as("FROM_HKEY"),
          when(col("event_type") === "error", lit(null).cast("string"))
            .otherwise(Dv.hash(Seq(col("event_type")))).as("TO_HKEY"),
          col("ld").as(c.loadDate), col("event_id"))
        val (nl, ne) = RawVaultOps.reconcileLinkStates(
          fk, s.read.parquet(linkPath), s.read.parquet(effPath),
          "FROM_HKEY", "TO_HKEY", "events",
          clock = lit(0L), tieBreak = col("event_id"))
        // materialize BOTH results before appending (the plans read
        // the very paths the appends extend) — in ONE action: the two
        // results ride a tagged union through a single eager
        // checkpoint, so the shared reconcile subtrees evaluate once
        // per delivery where the old persist+count pair paid two
        // jobs with two broadcast builds each (r22, guide §1.2); the
        // appends below are trivial scans of the checkpointed rows
        val combined = nl.select(lit(true).as("__l"), col(c.hkey),
            col(c.loadDate), col(c.recordSource), col("FROM_HKEY"),
            col("TO_HKEY"), lit(null).cast("string").as(c.hdiff),
            lit(null).cast("boolean").as(c.deleted))
          .unionByName(ne.select(lit(false).as("__l"), col(c.hkey),
            col(c.loadDate), lit(null).cast("string").as(c.recordSource),
            lit(null).cast("string").as("FROM_HKEY"),
            lit(null).cast("string").as("TO_HKEY"), col(c.hdiff),
            col(c.deleted)))
          .localCheckpoint(true)
        combined.filter(col("__l"))
          .select(col(c.hkey), col(c.loadDate), col(c.recordSource),
            col("FROM_HKEY"), col("TO_HKEY"))
          .write.mode("append").parquet(linkPath)
        combined.filter(!col("__l"))
          .select(col(c.hkey), col(c.hdiff), col(c.loadDate),
            col(c.deleted))
          .write.mode("append").parquet(effPath)
        ()
      }
      one.unpersist(blocking = false)

      s.read.parquet(effPath).select(col(c.hkey).as("hkey"),
        col(c.loadDate).as("ld"), col(c.deleted).as("deleted"))
    })
  )

  /** The window-based link-reconcile mirror, shared by v09 (one-shot)
    * and w05 (streamed in time-ordered micro-batches — the accumulated
    * history must equal the one-shot result). */
  private val linkReconcileSql =
    """WITH ev AS (
         SELECT md5(user_id::VARCHAR) AS f,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE md5(event_type) END AS t,
           epoch_ms(date_trunc('milliseconds', ts)) AS ld, event_id
         FROM events WHERE event_type IN ('purchase', 'error')),
       one AS (
         SELECT * FROM (SELECT ev.*, row_number()
           OVER (PARTITION BY f, ld ORDER BY event_id) AS rn FROM ev)
         WHERE rn = 1),
       m AS (
         SELECT f, t, ld,
           lag(t) OVER w AS prev_to, lag(1) OVER w AS has_prev
         FROM one
         WINDOW w AS (PARTITION BY f ORDER BY ld, event_id, t NULLS FIRST)),
       del AS (
         SELECT md5(f || ',' || prev_to) AS hkey, ld, TRUE AS deleted
         FROM m WHERE has_prev = 1 AND prev_to IS NOT NULL
           AND (t IS NULL OR t <> prev_to)),
       liv AS (
         SELECT md5(f || ',' || t) AS hkey, ld, FALSE AS deleted
         FROM m WHERE t IS NOT NULL),
       uni AS (SELECT DISTINCT hkey, ld, deleted
         FROM (SELECT * FROM del UNION ALL SELECT * FROM liv)),
       ded AS (SELECT hkey, ld, deleted,
         lag(deleted) OVER (PARTITION BY hkey ORDER BY ld) AS prev FROM uni)
       SELECT hkey, ld, deleted FROM ded WHERE prev IS NULL OR prev <> deleted"""

  def oracleSql: Map[String, String] = Map(
    "v01_hub_rows" ->
      s"""WITH $stagedSql,
         hub AS (SELECT DISTINCT hkey FROM staged WHERE user_id % 2 = 0)
         SELECT DISTINCT hkey, 'events' AS record_source, user_id
         FROM staged WHERE NOT EXISTS (SELECT 1 FROM hub WHERE hub.hkey = staged.hkey)""",
    "v02_sat_rows" ->
      s"""WITH $stagedSql,
         cur AS (SELECT hkey, ld FROM staged WHERE event_id % 3 = 0 AND op IN (0,2,4))
         SELECT DISTINCT hkey, md5(concat_ws(',', event_type, props)) AS hdiff,
           ld AS load_ms, event_type, props
         FROM staged s WHERE op IN (0,2,4)
           AND NOT EXISTS (SELECT 1 FROM cur WHERE cur.hkey = s.hkey AND cur.ld = s.ld)""",
    "v03_eff_rows" ->
      s"""WITH $stagedSql,
         cur AS (SELECT hkey, ld FROM staged WHERE event_id % 3 = 0 AND op IN (0,1,2))
         SELECT DISTINCT hkey, md5((op = 1)::VARCHAR) AS hdiff, ld AS load_ms,
           (op = 1) AS deleted
         FROM staged s WHERE op IN (0,1,2)
           AND NOT EXISTS (SELECT 1 FROM cur WHERE cur.hkey = s.hkey AND cur.ld = s.ld)""",
    // w04 = the v01/v02/v03 new-row sets as (tbl, hkey, fp) fingerprints:
    // the streaming replay's final table states minus the seeds must
    // equal the one-shot batch computation row for row
    "w04_cdc_vault_stream" ->
      s"""WITH $stagedSql,
         hub AS (SELECT DISTINCT hkey FROM staged WHERE user_id % 2 = 0),
         hubn AS (SELECT DISTINCT hkey, 'events' AS rs, user_id FROM staged
           WHERE NOT EXISTS (SELECT 1 FROM hub WHERE hub.hkey = staged.hkey)),
         satcur AS (SELECT hkey, ld FROM staged WHERE event_id % 3 = 0 AND op IN (0,2,4)),
         satn AS (SELECT DISTINCT hkey, md5(concat_ws(',', event_type, props)) AS hdiff,
             ld, event_type, props
           FROM staged s WHERE op IN (0,2,4)
             AND NOT EXISTS (SELECT 1 FROM satcur c WHERE c.hkey = s.hkey AND c.ld = s.ld)),
         effcur AS (SELECT hkey, ld FROM staged WHERE event_id % 3 = 0 AND op IN (0,1,2)),
         effn AS (SELECT DISTINCT hkey, md5((op = 1)::VARCHAR) AS hdiff, ld,
             (op = 1) AS deleted
           FROM staged s WHERE op IN (0,1,2)
             AND NOT EXISTS (SELECT 1 FROM effcur c WHERE c.hkey = s.hkey AND c.ld = s.ld))
         SELECT 'hub' AS tbl, hkey, md5(concat_ws(',', rs, user_id)) AS fp FROM hubn
         UNION ALL SELECT 'sat' AS tbl, hkey,
           md5(concat_ws(',', hdiff, ld, event_type, props)) AS fp FROM satn
         UNION ALL SELECT 'eff' AS tbl, hkey,
           md5(concat_ws(',', hdiff, ld, deleted)) AS fp FROM effn""",
    "v04_link_rows" ->
      """WITH lnk AS (
           SELECT md5(concat_ws(',', md5(o_orderkey::VARCHAR), md5(o_custkey::VARCHAR))) AS link_hkey,
             md5(o_orderkey::VARCHAR) AS order_hkey, md5(o_custkey::VARCHAR) AS cust_hkey,
             o_orderkey
           FROM orders)
         SELECT DISTINCT link_hkey, order_hkey, cust_hkey FROM lnk
         WHERE NOT EXISTS (SELECT 1 FROM lnk x WHERE x.o_orderkey < 1000
           AND x.link_hkey = lnk.link_hkey)""",
    "v05_code_ref_rows" ->
      s"""WITH $stagedSql,
         clicks AS (SELECT * FROM staged WHERE event_type = 'click'),
         cur AS (SELECT 'click' AS g, user_id, ld FROM clicks WHERE event_id % 3 = 0)
         SELECT DISTINCT 'click' AS ref_group, user_id,
           md5(concat_ws(',', props)) AS hdiff, ld AS load_ms, props
         FROM clicks s WHERE NOT EXISTS (SELECT 1 FROM cur
           WHERE cur.user_id = s.user_id AND cur.ld = s.ld)""",
    "v06_snapshot_override" ->
      """SELECT md5(user_id::VARCHAR) AS hkey, event_id,
         CASE event_type WHEN 'signup' THEN 2 WHEN 'error' THEN 1 ELSE 0 END AS op,
         CASE WHEN event_type NOT IN ('signup', 'error')
           THEN epoch_ms(date_trunc('milliseconds', ts)) + 3600000
           ELSE epoch_ms(date_trunc('milliseconds', ts)) END AS load_ms
         FROM events""",
    "q19_pit" ->
      s"""WITH $stagedSql,
         sat AS (SELECT hkey, ld FROM staged WHERE op IN (0,2,4)),
         vers AS (SELECT hkey, ld,
           lead(ld) OVER (PARTITION BY hkey ORDER BY ld) AS le FROM sat),
         dels AS (SELECT hkey, ld AS dd FROM staged WHERE op = 1),
         pit AS (SELECT v.hkey, v.ld,
           CASE WHEN d.dd IS NOT NULL THEN d.dd ELSE v.le END AS le2
           FROM vers v LEFT JOIN dels d ON v.hkey = d.hkey
             AND v.ld < d.dd AND (v.le > d.dd OR v.le IS NULL))
         SELECT hkey, ld AS start_ms,
           min(coalesce(le2, 253402300799999)) AS end_ms
         FROM pit GROUP BY hkey, ld""",
    "q16_zip_join" ->
      """WITH l AS (SELECT user_id, event_id AS l_event_id,
           epoch_ms(date_trunc('milliseconds', ts)) AS s,
           lead(epoch_ms(date_trunc('milliseconds', ts)))
             OVER (PARTITION BY user_id
                   ORDER BY epoch_ms(date_trunc('milliseconds', ts)), event_id) AS e
           FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, event_id AS r_event_id,
           epoch_ms(date_trunc('milliseconds', ts)) AS s,
           lead(epoch_ms(date_trunc('milliseconds', ts)))
             OVER (PARTITION BY user_id
                   ORDER BY epoch_ms(date_trunc('milliseconds', ts)), event_id) AS e
           FROM events WHERE event_type = 'error')
         SELECT l.user_id, l_event_id, r_event_id,
           greatest(l.s, r.s) AS start_ms, least(l.e, r.e) AS end_ms
         FROM l JOIN r ON l.user_id = r.user_id
         WHERE (r.e IS NULL OR l.s IS NULL OR r.e > l.s)
           AND (l.e IS NULL OR r.s IS NULL OR l.e > r.s)""",
    "q17_scd2" ->
      """SELECT user_id, event_id,
         epoch_ms(date_trunc('milliseconds', ts)) AS load_ms,
         coalesce(lead(epoch_ms(date_trunc('milliseconds', ts)))
           OVER (PARTITION BY user_id ORDER BY event_id), 253402300799999) AS end_ms
         FROM events WHERE event_type IN ('signup', 'purchase', 'click')""",
    "v09_link_reconcile" -> linkReconcileSql,
    // w05 streams the SAME feed through the same kernel in time-ordered
    // micro-batches (+ a replayed batch); the accumulated effectivity
    // history must equal the one-shot computation exactly
    "w05_cdc_link_stream" -> linkReconcileSql,
    "v10_catalog_roundtrip" ->
      s"""WITH $stagedSql,
         sat AS (SELECT DISTINCT hkey, md5(concat_ws(',', event_type, props)) AS hdiff,
           ld AS load_ms, event_type, props FROM staged WHERE op IN (0,2,4)),
         hub AS (SELECT DISTINCT hkey, user_id FROM staged)
         SELECT s.hkey, h.user_id, s.hdiff, s.load_ms, s.event_type, s.props
         FROM sat s JOIN hub h USING (hkey)""",
    "v07_v2_enddate" ->
      """WITH v AS (
           SELECT md5(o_custkey::VARCHAR) AS hkey, md5(o_orderstatus) AS hdiff,
             epoch_ms(min(o_orderdate))::BIGINT AS ld, o_orderstatus AS status
           FROM orders GROUP BY o_custkey, o_orderstatus),
         n AS (
           SELECT hkey, ld,
             lead(ld) OVER (PARTITION BY hkey ORDER BY ld) AS nxt
           FROM (SELECT DISTINCT hkey, ld FROM v))
         SELECT v.hkey, v.hdiff, v.ld, n.nxt AS led, v.status
         FROM v JOIN n ON v.hkey = n.hkey AND v.ld = n.ld""",
    "v11_curated_view" ->
      """WITH tl(id, tc, en, de) AS (
           VALUES ('0','bronze','Bronze','Bronze (DE)'),
                  ('1','silver','Silver','Silber'),
                  ('2','gold','Gold','Gold (DE)')),
         s AS (SELECT s_name, (s_suppkey % 3)::VARCHAR AS tid,
                 (s_suppkey % 10) AS uid, s_nationkey
               FROM supplier WHERE s_suppkey % 7 <> 0)
         SELECT s.s_name AS supplier_name, tl.tc AS tier, tl.en AS tier_en,
           tl.de AS tier_de, 'u' || uid::VARCHAR AS create_user,
           'user_' || uid::VARCHAR AS create_user_name,
           'n' || s.s_nationkey::VARCHAR AS nation_id, r.r_name AS region_name,
           epoch_ms(TIMESTAMP '2024-03-01 00:00:00') AS start_ms,
           epoch_ms(TIMESTAMP '9999-12-31 23:59:59.999999') AS end_ms
         FROM s JOIN tl ON tl.id = s.tid
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey""",
    "v08_v2_lastseen" ->
      """WITH e AS (
           SELECT o_custkey AS k, epoch_ms(min(o_orderdate))::BIGINT AS ld,
             epoch_ms(min(o_orderdate))::BIGINT AS ls
           FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
         u AS (
           SELECT o_custkey AS k, epoch_ms(min(o_orderdate))::BIGINT AS ld,
             epoch_ms(max(o_orderdate))::BIGINT AS ls
           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY 1)
         SELECT md5(coalesce(e.k, u.k)::VARCHAR) AS hkey,
           coalesce(e.ld, u.ld) AS ld,
           coalesce(u.ls, e.ls) AS last_seen
         FROM e FULL OUTER JOIN u ON e.k = u.k"""
  )
}
