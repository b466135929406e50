package graft.vault

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.StagedReplace

/** End-to-end v2 (LoadRaw) mode: three staged batches through the
  * catalog-backed loaders, asserting the v2-specific semantics —
  * last_seen_date updated in place on hubs/links, SCD2 satellites keyed
  * on (hkey, hdiff) where a flip-flop back to a previously-seen version
  * inserts nothing, end-dating at the next distinct load date.
  * Reference scenario shape: LoadRaw.py:442-535 usage.
  */
class LoadRawV2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val t1 = "2024-01-01T00:00:00Z"
  private val t2 = "2024-01-02T00:00:00Z"
  private val t3 = "2024-01-03T00:00:00Z"
  private def ts(iso: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  private lazy val srcDir =
    graft.TestScratch.dir("graft-v2-src")

  // (PublicID, NAME, RANK, DIRECTOR_ID) per batch; m1 flips back to its
  // batch-1 attribute values (and director) in batch 3.
  private val batches = Map(
    t1 -> (Seq(("m1", "A", 1, "d1"), ("m2", "B", 2, "d1")), Seq("d1")),
    t2 -> (Seq(("m1", "A", 9, "d2"), ("m2", "B", 2, "d1"), ("m3", "C", 3, "d1")),
      Seq("d1", "d2")),
    t3 -> (Seq(("m1", "A", 1, "d1")), Seq("d1")))

  private def loadBatch(loadDate: String, short: String = "tv2"): LoadRawV2 = {
    val (movies, directors) = batches(loadDate)
    movies.toDF("PublicID", "NAME", "RANK", "DIRECTOR_ID")
      .write.mode("overwrite").parquet(s"$srcDir/movies")
    directors.toDF("PublicID")
      .write.mode("overwrite").parquet(s"$srcDir/directors")
    val v2 = new LoadRawV2(spark, loadDate, "test_v2", short, srcDir)
    v2.initializeDatabase()
    v2.createHub("HUB__MOVIES", Seq(("PublicID", "STRING")))
    v2.createHub("HUB__DIRECTORS", Seq(("PublicID", "STRING")))
    v2.createSatellite("SAT__MOVIES", Seq(("NAME", "STRING"), ("RANK", "INT")))
    v2.createLink("LNK__MOVIE__DIRECTOR", Seq("MOVIE_HKEY", "DIRECTOR_HKEY"))
    v2.stageTable("movies", "movies", hkeyColumns = Seq("PublicID"))
    v2.stageTable("directors", "directors", hkeyColumns = Seq("PublicID"))
    v2.loadHubFromStagingTable("movies", "HUB__MOVIES", Seq("PublicID"),
      Seq(("SAT__MOVIES", Seq("NAME", "RANK"))))
    v2.loadHubFromStagingTable("directors", "HUB__DIRECTORS", Seq("PublicID"))
    v2.loadLinkFromLinkedStagingTables("movies", "directors",
      "DIRECTOR_ID", "PublicID", "MOVIE_HKEY", "DIRECTOR_HKEY",
      "LNK__MOVIE__DIRECTOR")
    v2
  }

  private lazy val loaded: LoadRawV2 = {
    loadBatch(t1); loadBatch(t2); loadBatch(t3)
  }

  private def hub(name: String): Map[String, Row] = {
    loaded
    spark.table(s"tv2__raw.`$name`").collect()
      .map(r => r.getAs[String]("PublicID") -> r).toMap
  }

  test("hub keeps original load_date, bumps last_seen_date in place") {
    val movies = hub("HUB__MOVIES")
    assert(movies.size === 3)
    assert(movies("m1").getAs[java.sql.Timestamp]("load_date") === ts(t1))
    assert(movies("m3").getAs[java.sql.Timestamp]("load_date") === ts(t2))
    assert(movies("m1").getAs[java.sql.Timestamp]("last_seen_date") === ts(t3))
    assert(movies("m2").getAs[java.sql.Timestamp]("last_seen_date") === ts(t2))
    assert(movies("m3").getAs[java.sql.Timestamp]("last_seen_date") === ts(t2))
  }

  test("satellite: new version end-dates the old; flip-flop inserts nothing") {
    loaded
    val m1Hkey = hub("HUB__MOVIES")("m1").getAs[String]("hkey")
    val sat = spark.table("tv2__raw.`SAT__MOVIES`").collect()
      .groupBy(_.getAs[String]("hkey"))
    val m1 = sat(m1Hkey).sortBy(_.getAs[java.sql.Timestamp]("load_date").getTime)
    // batch 3 re-sent the (A, 1) version already recorded at t1: the
    // (hkey, hdiff) merge key means NO third row appears, and the open
    // (A, 9) version stays open — observable v2 semantics.
    assert(m1.length === 2)
    assert(m1(0).getAs[Int]("RANK") === 1)
    assert(m1(0).getAs[java.sql.Timestamp]("load_end_date") === ts(t2))
    assert(m1(1).getAs[Int]("RANK") === 9)
    assert(m1(1).getAs[java.sql.Timestamp]("load_end_date") === null)
    // unchanged m2: a single still-open version from t1
    val m2Hkey = hub("HUB__MOVIES")("m2").getAs[String]("hkey")
    assert(sat(m2Hkey).length === 1)
    assert(sat(m2Hkey).head.getAs[java.sql.Timestamp]("load_end_date") === null)
  }

  test("link records every seen pair; re-point adds, re-seeing bumps last_seen") {
    loaded
    val movies = hub("HUB__MOVIES"); val dirs = hub("HUB__DIRECTORS")
    def pair(m: String, d: String) =
      (movies(m).getAs[String]("hkey"), dirs(d).getAs[String]("hkey"))
    val links = spark.table("tv2__raw.`LNK__MOVIE__DIRECTOR`").collect()
      .map(r => (r.getAs[String]("MOVIE_HKEY"), r.getAs[String]("DIRECTOR_HKEY")) -> r)
      .toMap
    assert(links.size === 4)
    // m1→d1 seen in batches 1 and 3: inserted at t1, last seen t3 (v2
    // has no delete concept — the t2 re-point to d2 just adds a pair)
    assert(links(pair("m1", "d1")).getAs[java.sql.Timestamp]("load_date") === ts(t1))
    assert(links(pair("m1", "d1")).getAs[java.sql.Timestamp]("last_seen_date") === ts(t3))
    assert(links(pair("m1", "d2")).getAs[java.sql.Timestamp]("load_date") === ts(t2))
    assert(links(pair("m1", "d2")).getAs[java.sql.Timestamp]("last_seen_date") === ts(t2))
    assert(links(pair("m2", "d1")).getAs[java.sql.Timestamp]("last_seen_date") === ts(t2))
    assert(links(pair("m3", "d1")).getAs[java.sql.Timestamp]("last_seen_date") === ts(t2))
  }

  test("query-driven loaders (S3): link and satellite load from Spark SQL") {
    loaded
    val v2 = new LoadRawV2(spark, t3, "test_v2", "tv2", srcDir)
    v2.createSatellite("SAT__MOVIES_Q", Seq(("NAME", "STRING"), ("RANK", "INT")))
    v2.loadSatelliteFromQuery(
      s"SELECT dv__hkey, dv__load_date, NAME, RANK FROM tv2__staging.movies",
      "SAT__MOVIES_Q", Seq("NAME", "RANK"))
    val sat = spark.table("tv2__raw.`SAT__MOVIES_Q`").collect()
    assert(sat.length === 1 && sat.head.getAs[String]("NAME") === "A")

    v2.createLink("LNK__Q", Seq("MOVIE_HKEY", "DIRECTOR_HKEY"))
    v2.loadLinkFromQuery(
      """SELECT DISTINCT f.dv__hkey AS MOVIE_HKEY, t.dv__hkey AS DIRECTOR_HKEY
         FROM tv2__staging.movies f
         JOIN tv2__staging.directors t ON f.DIRECTOR_ID = t.PublicID""",
      "LNK__Q", Seq("MOVIE_HKEY", "DIRECTOR_HKEY"))
    val lnk = spark.table("tv2__raw.`LNK__Q`").collect()
    assert(lnk.length === 1)
    assert(lnk.head.getAs[java.sql.Timestamp]("last_seen_date") === ts(t3))
  }

  test("satellite from linked staging tables joins root hkey to attributes") {
    loaded
    val v2 = new LoadRawV2(spark, t3, "test_v2", "tv2", srcDir)
    // attribute rows live in a separate staged table keyed by PublicID
    Seq(("m1", "extra-payload")).toDF("MOVIE_ID", "EXTRA")
      .write.mode("overwrite").parquet(s"$srcDir/movie_extras")
    v2.stageTable("movie_extras", "movie_extras")
    v2.createSatellite("SAT__MOVIE_EXTRAS", Seq(("EXTRA", "STRING")))
    v2.loadSatelliteFromLinkedStagingTable(
      ("movies", "PublicID"), ("movie_extras", "MOVIE_ID"),
      "SAT__MOVIE_EXTRAS", Seq("EXTRA"))
    val sat = spark.table("tv2__raw.`SAT__MOVIE_EXTRAS`").collect()
    assert(sat.length === 1)
    assert(sat.head.getAs[String]("EXTRA") === "extra-payload")
    assert(sat.head.getAs[String]("hkey") ===
      hub("HUB__MOVIES")("m1").getAs[String]("hkey"))
  }

  test("duplicate business keys in one staged batch insert a single hub row") {
    loaded
    // throwaway source + hub: must not disturb the shared movies fixtures
    val v2 = new LoadRawV2(spark, t3, "test_v2", "tv2", srcDir)
    v2.createHub("HUB__MOVIES_DUP", Seq(("PublicID", "STRING")))
    Seq(("dup1", "X", 1, "d1"), ("dup1", "X", 2, "d1"))
      .toDF("PublicID", "NAME", "RANK", "DIRECTOR_ID")
      .write.mode("overwrite").parquet(s"$srcDir/movies_dup")
    v2.stageTable("movies_dup", "movies_dup", hkeyColumns = Seq("PublicID"))
    v2.loadHubFromStagingTable("movies_dup", "HUB__MOVIES_DUP", Seq("PublicID"))
    def dupCount() = spark.table("tv2__raw.`HUB__MOVIES_DUP`")
      .filter(col("PublicID") === "dup1").count()
    assert(dupCount() === 1)
    // replay must not multiply matched keys either (the kept-join path)
    v2.loadHubFromStagingTable("movies_dup", "HUB__MOVIES_DUP", Seq("PublicID"))
    assert(dupCount() === 1)
  }

  test("v2 load is idempotent: replaying the last batch changes nothing") {
    loaded
    val before = (
      spark.table("tv2__raw.`HUB__MOVIES`").collect().toSet,
      spark.table("tv2__raw.`SAT__MOVIES`").collect().toSet,
      spark.table("tv2__raw.`LNK__MOVIE__DIRECTOR`").collect().toSet)
    loadBatch(t3)
    val after = (
      spark.table("tv2__raw.`HUB__MOVIES`").collect().toSet,
      spark.table("tv2__raw.`SAT__MOVIES`").collect().toSet,
      spark.table("tv2__raw.`LNK__MOVIE__DIRECTOR`").collect().toSet)
    assert(before === after)
  }

  test("an interrupted replace heals on the next load; a load failing mid-write leaves the table intact") {
    loaded
    val tables = Seq("HUB__MOVIES", "SAT__MOVIES", "LNK__MOVIE__DIRECTOR")
    def state(short: String) =
      tables.map(t => spark.table(s"${short}__raw.`$t`").collect().toSet)
    Seq(t1, t2, t3).foreach(loadBatch(_, "tv2h"))
    // the state a crash of t3's replace leaves after dropping the live
    // table, before renaming its committed stage
    for (t <- Seq("HUB__MOVIES", "SAT__MOVIES")) {
      val live = s"tv2h__raw.`$t`"
      spark.sql(s"ALTER TABLE $live RENAME TO " +
        StagedReplace.stageTable(spark, live))
      assert(!spark.catalog.tableExists(live))
    }
    loadBatch(t3, "tv2h") // the redelivery heals, then upserts again
    assert(state("tv2h") === state("tv2"),
      "the healed load must equal an uninterrupted one")
    // a satellite load whose state throws inside the write job
    val before = state("tv2h")
    val boom = org.apache.spark.sql.functions.udf { (s: String) =>
      if (s != null) throw new IllegalStateException("injected write failure")
      s
    }
    val v2 = new LoadRawV2(spark, t3, "test_v2", "tv2h", srcDir)
    intercept[Exception] {
      v2.loadSatelliteFromDf(spark.table("tv2h__staging.movies")
        .withColumn("NAME", boom(col("NAME"))), "SAT__MOVIES",
        Seq("NAME", "RANK"))
    }
    assert(state("tv2h") === before,
      "a failed load must leave the live table as it was")
    // and the next load, whose stage name the failed write used, succeeds
    loadBatch(t3, "tv2h")
    assert(state("tv2h") === state("tv2"))
  }
}
