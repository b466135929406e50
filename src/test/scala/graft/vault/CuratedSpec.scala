package graft.vault

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Curated-layer semantics (Curated.py): flat renamed views over the
  * business vault with typelist enrichment, FK -> PublicID resolution,
  * *UserID enrichment, and retired-row filtering — the reference's
  * map_to_curated golden path (cdc/test_datavault.py:1265-1296).
  */
class CuratedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00")
  private val clock = Timestamp.valueOf("2026-01-01 00:00:00")

  private lazy val stagingDir =
    graft.TestScratch.dir("graft-cur")
  private lazy val config = RawVaultConfig(
    stagingDir, "cur_stg", "cur_raw", partitionSize = 2)
  private lazy val vault = new RawVault(spark, config, "cur_test", lit(clock))
  private implicit lazy val c: Conventions = config.conventions
  private lazy val business = new BusinessVault(spark, config.rawDatabase)

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def writeBatch(name: String, data: DataFrame): Unit =
    data.write.mode("overwrite").parquet(s"$stagingDir/$name.parquet")

  private def entitySchema(attrs: (String, DataType)*): StructType =
    StructType(
      Seq(StructField("OPERATION", IntegerType, false),
        StructField("LOAD_DATE", TimestampType, false),
        StructField("PublicID", StringType, false)) ++
        attrs.map { case (n, t) => StructField(n, t, true) })

  private def loadEntity(name: String, schema: StructType, attrs: Seq[ColumnDefinition],
      rows: Row*): Unit = {
    vault.createHub(name, Seq(ColumnDefinition("PublicID", StringType)))
    vault.createSatellite(name, attrs)
    writeBatch(name, df(schema, rows: _*))
    vault.loadHubFromSourceTable(name, name, Seq("PublicID"),
      Seq(SatelliteDefinition(c.satName(name), attrs)))
    business.createPointInTimeTableForSingleSatellite(name, name)
  }

  test("setup: load USER/CREDENTIAL/POLICY/CLAIM vault with links and typelists") {
    vault.initializeDatabase()

    loadEntity("USER",
      entitySchema("ID" -> IntegerType),
      Seq(ColumnDefinition("ID", IntegerType)),
      Row(0, t0, "u1", Integer.valueOf(100)),
      Row(0, t0, "u2", Integer.valueOf(200)))

    loadEntity("CREDENTIAL",
      entitySchema("UserName" -> StringType),
      Seq(ColumnDefinition("UserName", StringType)),
      Row(0, t0, "cr1", "alice"),
      Row(0, t0, "cr2", "bob"))

    loadEntity("POLICY",
      entitySchema("POLICYNUMBER" -> StringType, "retired" -> IntegerType),
      Seq(ColumnDefinition("POLICYNUMBER", StringType),
        ColumnDefinition("retired", IntegerType)),
      Row(0, t0, "p1", "POL-1", Integer.valueOf(0)),
      Row(0, t0, "p2", "POL-2", Integer.valueOf(0)))

    loadEntity("CLAIM",
      entitySchema("ClaimNumber" -> StringType, "Status" -> StringType,
        "PolicyID" -> IntegerType, "CreateUserID" -> IntegerType,
        "retired" -> IntegerType),
      Seq(ColumnDefinition("ClaimNumber", StringType),
        ColumnDefinition("Status", StringType),
        ColumnDefinition("PolicyID", IntegerType),
        ColumnDefinition("CreateUserID", IntegerType),
        ColumnDefinition("retired", IntegerType)),
      Row(0, t0, "cl1", "CLM-1", "1", Integer.valueOf(11), Integer.valueOf(100), Integer.valueOf(0)),
      Row(0, t0, "cl2", "CLM-2", "2", Integer.valueOf(22), Integer.valueOf(200), Integer.valueOf(0)),
      Row(0, t0, "cl3", "CLM-3", "1", Integer.valueOf(11), Integer.valueOf(100), Integer.valueOf(1)))

    // links via source-side link tables
    val linkSchema = StructType(Seq(
      StructField("OPERATION", IntegerType, false),
      StructField("LOAD_DATE", TimestampType, false),
      StructField("FROM_ID", StringType, false),
      StructField("TO_ID", StringType, false)))
    def loadLinkTable(source: String, fromHub: String, toHub: String,
        linkName: String, rows: Row*): Unit = {
      vault.createLink(linkName, Seq(s"${fromHub}_HKEY", s"${toHub}_HKEY"))
      writeBatch(source, df(linkSchema, rows: _*))
      vault.loadLinkFromSourceTable(source,
        Seq(
          LinkedHubDefinition(fromHub, s"${fromHub}_HKEY",
            ForeignKey("FROM_ID", ColumnReference(s"HUB__$fromHub", "PublicID"))),
          LinkedHubDefinition(toHub, s"${toHub}_HKEY",
            ForeignKey("TO_ID", ColumnReference(s"HUB__$toHub", "PublicID")))),
        linkName)
    }
    loadLinkTable("USER_CRED", "USER", "CREDENTIAL", "USER__CREDENTIAL",
      Row(0, t0, "u1", "cr1"), Row(0, t0, "u2", "cr2"))
    loadLinkTable("CLAIM_POLICY", "CLAIM", "POLICY", "CLAIM__POLICY",
      Row(0, t0, "cl1", "p1"), Row(0, t0, "cl2", "p2"), Row(0, t0, "cl3", "p1"))

    // grouped typelist reference + active view
    val tlSchema = StructType(Seq(
      StructField("OPERATION", IntegerType, false),
      StructField("LOAD_DATE", TimestampType, false),
      StructField("ID", StringType, false),
      StructField("typecode", StringType, false),
      StructField("name", StringType, false),
      StructField("L_de", StringType, false)))
    vault.createCodeReferenceTable("TYPELISTS",
      ColumnDefinition("ID", StringType),
      Seq(ColumnDefinition("typecode", StringType),
        ColumnDefinition("name", StringType),
        ColumnDefinition("L_de", StringType)))
    writeBatch("CLAIM_STATUS", df(tlSchema,
      Row(0, t0, "1", "open", "Open", "Offen"),
      Row(0, t0, "2", "closed", "Closed", "Geschlossen")))
    vault.loadCodeReferencesFromSourceTable("CLAIM_STATUS", "TYPELISTS",
      "ID", Seq("typecode", "name", "L_de"))
    business.createActiveCodeReferenceTable("REF__TYPELISTS",
      "REF__TYPELISTS_ACTIVE", "ID")

    assert(spark.table("cur_raw.`HUB__CLAIM`").count() === 3)
    assert(spark.table("cur_raw.`REF__TYPELISTS_ACTIVE`").count() === 2)
  }

  private lazy val curated = new Curated(spark, business,
    TypelistsConfig(spark.table("cur_raw.`REF__TYPELISTS_ACTIVE`")),
    "cur_curated", config.rawDatabase)

  test("joinTypelist replaces the code id with typecode and adds names") {
    val claims = business.readDataFromHub("CLAIM", Seq("PublicID", "Status"))
    val enriched = curated.joinTypelist(claims, "Status", "claim_status")
    val row = enriched.filter(col("PublicID") === "cl1").head()
    assert(row.getAs[String]("Status") === "open")
    assert(row.getAs[String]("Status_en") === "Open")
    assert(row.getAs[String]("Status_de") === "Offen")
  }

  test("replaceIdWithPublicId swaps the FK id for the target's PublicID") {
    val claims = business.readDataFromHub("CLAIM",
      Seq("PublicID", "ClaimNumber", "PolicyID"), includeHkey = true)
    val policies = business.readDataFromHub("POLICY", Seq("PublicID"), includeHkey = true)
      .withColumnRenamed("PublicID", "PublicID")
    val out = curated.replaceIdWithPublicId(
      claims.withColumnRenamed("PublicID", "ClaimPublicID"), "PolicyID",
      policies, "LNK__CLAIM__POLICY", "CLAIM_HKEY", "POLICY_HKEY",
      Some(claims(c.hkey)), Some(policies(c.hkey)))
    val m = out.select("ClaimPublicID", "PolicyID").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("cl1") === "p1")
    assert(m("cl2") === "p2")
  }

  test("joinUserInformation resolves *UserID to PublicID + UserName") {
    val claims = business.readDataFromHub("CLAIM",
      Seq("PublicID", "ClaimNumber", "CreateUserID"))
    val out = curated.joinUserInformation(claims)
    val row = out.filter(col("PublicID") === "cl1").head()
    assert(row.getAs[String]("CreateUserID") === "u1")
    assert(row.getAs[String]("CreateUserID_UserName") === "alice")
  }

  test("memoized user lookup stays coherent across subsequent vault loads") {
    // first enrichment builds + caches the user lookup
    val claims = business.readDataFromHub("CLAIM",
      Seq("PublicID", "ClaimNumber", "CreateUserID"))
    curated.joinUserInformation(claims).collect()
    // a NEW user + credential arrive through the normal load path
    // (every vault write refreshes the catalog, which recaches dependent plans)
    val t1 = Timestamp.valueOf("2024-03-02 00:00:00")
    writeBatch("USER", df(entitySchema("ID" -> IntegerType),
      Row(0, t1, "u3", Integer.valueOf(300))))
    vault.loadHubFromSourceTable("USER", "USER", Seq("PublicID"),
      Seq(SatelliteDefinition(c.satName("USER"),
        Seq(ColumnDefinition("ID", IntegerType)))))
    business.createPointInTimeTableForSingleSatellite("USER", "USER")
    writeBatch("CREDENTIAL", df(entitySchema("UserName" -> StringType),
      Row(0, t1, "cr3", "carol")))
    vault.loadHubFromSourceTable("CREDENTIAL", "CREDENTIAL", Seq("PublicID"),
      Seq(SatelliteDefinition(c.satName("CREDENTIAL"),
        Seq(ColumnDefinition("UserName", StringType)))))
    business.createPointInTimeTableForSingleSatellite("CREDENTIAL", "CREDENTIAL")
    val linkSchema = StructType(Seq(
      StructField("OPERATION", IntegerType, false),
      StructField("LOAD_DATE", TimestampType, false),
      StructField("FROM_ID", StringType, false),
      StructField("TO_ID", StringType, false)))
    writeBatch("USER_CRED", df(linkSchema, Row(0, t1, "u3", "cr3")))
    vault.loadLinkFromSourceTable("USER_CRED",
      Seq(
        LinkedHubDefinition("USER", "USER_HKEY",
          ForeignKey("FROM_ID", ColumnReference("HUB__USER", "PublicID"))),
        LinkedHubDefinition("CREDENTIAL", "CREDENTIAL_HKEY",
          ForeignKey("TO_ID", ColumnReference("HUB__CREDENTIAL", "PublicID")))),
      "USER__CREDENTIAL")
    // the SAME Curated instance must see the new user without an
    // explicit releaseUserInfoCache call
    val enriched = curated.joinUserInformation(
      spark.createDataFrame(Seq((300, "x"))).toDF("CreateUserID", "payload"))
    val row = enriched.filter(col("payload") === "x").head()
    assert(row.getAs[String]("CreateUserID") === "u3")
    assert(row.getAs[String]("CreateUserID_UserName") === "carol")
  }

  test("mapToCurated: flat renamed multi-entity view, retired rows dropped") {
    val fields = Seq(
      FieldDefinition("CC_CLAIM", "ClaimNumber"),
      FieldDefinition("CC_CLAIM", "Status",
        isTypelist = true, typelistTableName = Some("claim_status")),
      FieldDefinition("CC_CLAIM", "CreateUserID"),
      FieldDefinition("CC_POLICY", "POLICYNUMBER", toFieldName0 = Some("PolicyNumber")))
    val out = curated.mapToCurated(fields)

    val rows = out.collect().map(r => r.getAs[String]("ClaimNumber") -> r).toMap
    assert(rows.keySet === Set("CLM-1", "CLM-2")) // retired CLM-3 dropped
    val r1 = rows("CLM-1")
    assert(r1.getAs[String]("Status") === "open")
    assert(r1.getAs[String]("Status_en") === "Open")
    assert(r1.getAs[String]("PolicyNumber") === "POL-1")
    assert(r1.getAs[String]("CreateUserID") === "u1")
    assert(r1.getAs[String]("CreateUserID_UserName") === "alice")
  }
}
