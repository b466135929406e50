package graftbench

import java.io.File
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.vault.{BusinessVault, ColumnDefinition, ColumnReference, Conventions,
  Curated, FieldDefinition, ForeignKey, LinkedHubDefinition, RawVault, RawVaultConfig,
  SatelliteDefinition, TypelistsConfig}

/** `vault_cdc`: a closed loop of CDC deliveries into a two-hub warehouse
  * (CUSTOMER and ACCOUNT, each with a satellite and an effectivity
  * satellite; one link with its effectivity satellite; one code-reference
  * table; a PIT per hub; the active code references; one curated view).
  *
  * Each delivery lands four parquet files, stages them, loads the raw
  * vault, rebuilds both PITs and the active code references, and
  * materializes the curated view. Keys are Zipf-skewed over a fixed key
  * space; ops mix CREATE, UPDATE, SNAPSHOT and DELETE. Every
  * [[RedeliveryEvery]]-th delivery re-sends the previous one unchanged
  * (a loop that ends before that re-sends once right after it), and a
  * re-send must append no raw row.
  * At the end every raw and business table is compared with a model of
  * the loader semantics evaluated on the driver over the generated feed. */
object VaultCdc {
  val Customers = 4000
  val Accounts = 8000
  val CustomerEvents = 150
  val AccountEvents = 300
  val ZipfExponent = 1.1
  val RedeliveryEvery = 2
  val SetupRuns = 2
  val Buckets = 4
  private val Src = "bench_cdc"
  private val CdcBaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val ClockBaseMs = 1735689600000L // 2025-01-01T00:00:00Z
  private implicit val conv: Conventions = Conventions.default
  private val c = conv

  // CDC op codes (CdcOp): SNAPSHOT=0, DELETE=1, CREATE=2, UPDATE=4
  private val Snapshot = 0
  private val Delete = 1
  private val Create = 2
  private val Update = 4

  final case class Ev(key: String, op: Int, tsMs: Long, attrs: Seq[Any])
  final case class LinkEv(from: String, to: String, op: Int, tsMs: Long)
  /** One landing: per hub its events, per link its events, and the tier
    * code references. */
  final case class Delivery(index: Int, resendOf: Option[Int], clockMs: Long,
      dir: String, hubs: Seq[(String, Seq[Ev])], links: Seq[(String, Seq[LinkEv])],
      tiers: Seq[Ev]) {
    def rows: Int = hubs.map(_._2.size).sum + links.map(_._2.size).sum + tiers.size
  }

  /** Rank sampler for P(rank r) proportional to 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double, rnd: Random) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Attribute columns of each hub's satellite. */
  private val HubAttrs: Seq[(String, Seq[ColumnDefinition])] = Seq(
    "CUSTOMER" -> Seq(ColumnDefinition("name", StringType),
      ColumnDefinition("Tier", StringType), ColumnDefinition("retired", IntegerType)),
    "ACCOUNT" -> Seq(ColumnDefinition("balance", LongType),
      ColumnDefinition("retired", IntegerType)),
    "USER" -> Seq(ColumnDefinition("ID", IntegerType)),
    "CREDENTIAL" -> Seq(ColumnDefinition("UserName", StringType)))
  private val Links = Seq("CUSTOMER__ACCOUNT", "USER__CREDENTIAL")

  /** The seeded CDC feed, generated one delivery at a time. */
  final class Feed(seed: Long) {
    private val rnd = new Random(seed)
    private val custZipf = new Zipf(Customers, ZipfExponent, rnd)
    private val acctZipf = new Zipf(Accounts, ZipfExponent, rnd)
    private val custKeys = rnd.shuffle((0 until Customers).map(i => f"C$i%05d"))
    private val acctKeys = rnd.shuffle((0 until Accounts).map(i => f"A$i%05d"))
    private val custAlive = mutable.Map.empty[String, (Boolean, Seq[Any])]
    private val acctAlive = mutable.Map.empty[String, (Boolean, Seq[Any])]
    private val owner = mutable.Map.empty[String, String]
    private val custHubbed = mutable.ArrayBuffer.empty[String]
    val deliveries = mutable.ArrayBuffer.empty[Delivery]

    private def draw(z: Zipf, keys: IndexedSeq[String], n: Int): Seq[String] = {
      val picked = mutable.LinkedHashSet.empty[String]
      var tries = 0
      while (picked.size < n && tries < n * 50) { picked += keys(z.next()); tries += 1 }
      picked.toSeq
    }

    private def nextOp(alive: Option[(Boolean, Seq[Any])]): Int = alive match {
      case Some((true, _)) =>
        val r = rnd.nextDouble()
        if (r < 0.6) Update else if (r < 0.8) Snapshot else Delete
      case _ => Create
    }

    /** The previous delivery again, unchanged, under a new load clock. */
    def resend(): Delivery = {
      val d = deliveries.size
      val again = deliveries.last.copy(index = d, resendOf = Some(d - 1),
        clockMs = ClockBaseMs + d * 3600000L)
      deliveries += again
      again
    }

    def next(landing: String): Delivery = {
      val d = deliveries.size
      val clock = ClockBaseMs + d * 3600000L
      if (d > 0 && d % RedeliveryEvery == 0) resend()
      else {
        val delivery = {
          val base = CdcBaseMs + d * 3600000L
          var seq = 0
          def ts(): Long = { seq += 1; base + seq }
          val customers = draw(custZipf, custKeys, CustomerEvents).map { k =>
            val op = nextOp(custAlive.get(k))
            val attrs =
              if (op == Create || op == Update)
                Seq[Any](s"name-$k-$d", rnd.nextInt(3).toString, if (rnd.nextDouble() < 0.05) 1 else 0)
              else custAlive(k)._2
            if (!custAlive.contains(k)) custHubbed += k
            custAlive(k) = (op != Delete, attrs)
            Ev(k, op, ts(), attrs)
          }
          val links = mutable.ArrayBuffer.empty[LinkEv]
          val accounts = draw(acctZipf, acctKeys, AccountEvents).map { k =>
            val op = nextOp(acctAlive.get(k))
            val attrs =
              if (op == Create || op == Update)
                Seq[Any](rnd.nextInt(1000000).toLong, if (rnd.nextDouble() < 0.05) 1 else 0)
              else acctAlive(k)._2
            acctAlive(k) = (op != Delete, attrs)
            val t = ts()
            val o = owner.getOrElseUpdate(k, custHubbed(rnd.nextInt(custHubbed.size)))
            if (op != Update) links += LinkEv(o, k, op, t)
            Ev(k, op, t, attrs)
          }
          val tierIds = if (d == 0) Seq(0, 1, 2) else Seq(d % 3)
          val tiers = tierIds.map { i =>
            val code = Seq("bronze", "silver", "gold")(i)
            Ev(i.toString, Snapshot, ts(), Seq(code, s"${code.capitalize} v$d", s"$code (de) v$d"))
          }
          Delivery(d, None, clock, f"$landing/d$d%04d",
            Seq("CUSTOMER" -> customers, "ACCOUNT" -> accounts),
            Seq("CUSTOMER__ACCOUNT" -> links.toSeq), tiers)
        }
        deliveries += delivery
        delivery
      }
    }
  }

  private def legs(link: String): Seq[String] = link.split("__").toSeq
  private def withCdc(fields: Seq[StructField]): StructType = StructType(fields ++ Seq(
    StructField("OPERATION", IntegerType), StructField("LOAD_DATE", TimestampType)))
  private val tierSchema = withCdc(Seq("ID", "typecode", "name", "L_de")
    .map(StructField(_, StringType)))

  /** Write a delivery's files; returns their bytes on disk. */
  private def land(spark: SparkSession, d: Delivery): Long = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${d.dir}/$name")
    def row(e: Ev): Row = Row.fromSeq((e.key +: e.attrs) ++ Seq(e.op, new Timestamp(e.tsMs)))
    d.hubs.foreach { case (h, evs) =>
      write(h.toLowerCase, withCdc(StructField("PublicID", StringType) +:
        HubAttrs.toMap.apply(h).map(_.toField)), evs.map(row))
    }
    d.links.foreach { case (l, evs) =>
      write(l.toLowerCase, withCdc(legs(l).map(h => StructField(s"${h}_ID", StringType))),
        evs.map(e => Row(e.from, e.to, e.op, new Timestamp(e.tsMs))))
    }
    if (d.tiers.nonEmpty) write("tier", tierSchema, d.tiers.map(row))
    Disk.bytes(new File(d.dir))
  }

  private val curatedFields = Seq(
    FieldDefinition("CC_CUSTOMER", "name", Some("customer_name")),
    FieldDefinition("CC_CUSTOMER", "Tier", isTypelist = true, typelistTableName = Some("tier")),
    FieldDefinition("CC_ACCOUNT", "balance"))

  /** One warehouse: the vault objects over its own databases and dirs. */
  final class Warehouse(ctx: Ctx, rep: Int) {
    private val spark = ctx.spark
    val root: String = ctx.path(s"vault$rep")
    val landing = s"$root/landing"
    val rawDb = s"raw$rep"
    val bizDb = s"biz$rep"
    var clockMs: Long = 0L
    private val config = RawVaultConfig(
      stagingBasePath = landing,
      stagingPreparedDatabase = s"stg$rep",
      rawDatabase = rawDb,
      partitionSize = Buckets,
      stagingPreparedBasePath = Some(s"$root/stg.db"),
      rawBasePath = Some(s"$root/raw.db"))
    val vault = new RawVault(spark, config, Src, lit(new Timestamp(clockMs)))
    val business = new BusinessVault(spark, rawDb, Some(bizDb), Some(s"$root/biz.db"))
    val feed = new Feed(ctx.seed)
    var inputBytes = 0L

    def create(): Unit = {
      vault.initializeDatabase()
      business.initializeDatabase()
      HubAttrs.foreach { case (h, attrs) =>
        vault.createHub(h, Seq(ColumnDefinition("PublicID", StringType)))
        vault.createSatellite(h, attrs)
      }
      Links.foreach(l => vault.createLink(l, legs(l).map(h => s"${h}_HKEY")))
      vault.createCodeReferenceTable("TYPELISTS", ColumnDefinition("ID", StringType),
        Seq(ColumnDefinition("typecode", StringType), ColumnDefinition("name", StringType),
          ColumnDefinition("L_de", StringType)))
      // the user lookup mapToCurated always builds reads these PITs; the
      // user dimension itself stays empty
      Seq("USER", "CREDENTIAL").foreach(h => business.createPointInTimeTableForSingleSatellite(h, h))
    }

    private def landed(d: Delivery): Delivery = {
      if (d.resendOf.isEmpty) inputBytes += land(spark, d)
      d
    }

    /** Generate and land the next delivery (not timed). */
    def landNext(): Delivery = landed(feed.next(landing))

    /** Deliver a re-sent delivery and check that it appended no raw row. */
    def redeliver(d: Delivery): (Double, Check) = {
      val before = rawRowCount()
      val ms = Stats.timeMs(deliver(d))._2
      val added = rawRowCount() - before
      (ms, Check(s"redelivery_${d.index}_appends_nothing", added == 0,
        s"redelivery of delivery ${d.resendOf.get} appended $added raw rows"))
    }

    /** Stage, load, derive and curate one landed delivery. */
    def deliver(d: Delivery): Unit = {
      val t = ctx.tracer
      clockMs = d.clockMs
      val rel = d.dir.stripPrefix(landing + "/")
      t.span("vault_cdc.delivery") {
        d.hubs.foreach { case (h, _) =>
          t.span("RawVault.stageTable")(vault.stageTable(h, s"$rel/${h.toLowerCase}", Seq("PublicID")))
        }
        d.links.foreach { case (l, _) =>
          t.span("RawVault.stageTable")(vault.stageTable(l, s"$rel/${l.toLowerCase}"))
        }
        if (d.tiers.nonEmpty)
          t.span("RawVault.stageTable")(vault.stageTable("TIER", s"$rel/tier"))
        d.hubs.foreach { case (h, _) =>
          t.span("RawVault.loadHubFromPreparedStagingTable")(
            vault.loadHubFromPreparedStagingTable(h, h, Seq("PublicID"),
              Seq(SatelliteDefinition(c.satName(h), HubAttrs.toMap.apply(h)))))
        }
        d.links.foreach { case (l, _) =>
          t.span("RawVault.loadLinkFromPreparedStageTable")(
            vault.loadLinkFromPreparedStageTable(l, legs(l).map(h =>
              LinkedHubDefinition(h, s"${h}_HKEY",
                ForeignKey(s"${h}_ID", ColumnReference(s"HUB__$h", "PublicID")))), l))
        }
        d.hubs.foreach { case (h, _) =>
          t.span("BusinessVault.createPointInTimeTableForSingleSatellite")(
            business.createPointInTimeTableForSingleSatellite(h, h))
        }
        if (d.tiers.nonEmpty) {
          t.span("RawVault.loadCodeReferencesFromPreparedStageTable")(
            vault.loadCodeReferencesFromPreparedStageTable("TIER", "TYPELISTS", "ID",
              Seq("typecode", "name", "L_de")))
          t.span("BusinessVault.createActiveCodeReferenceTable")(
            business.createActiveCodeReferenceTable("REF__TYPELISTS", "REF__TYPELISTS_ACTIVE", "ID"))
          t.span("Curated.mapToCurated") {
            val curated = new Curated(spark, business,
              TypelistsConfig(spark.table(s"$bizDb.`REF__TYPELISTS_ACTIVE`")),
              s"cur$rep", rawDb)
            try curated.mapToCurated(curatedFields)
              .write.mode("overwrite").parquet(s"$root/curated/customer_view")
            finally curated.releaseUserInfoCache()
          }
        }
      }
    }

    def rawRowCount(): Long =
      RawTables.map(n => spark.table(s"$rawDb.`$n`").select(lit(1))).reduce(_ union _).count()
  }

  private val RawTables: Seq[String] =
    HubAttrs.flatMap { case (h, _) => Seq(s"HUB__$h", s"SAT__$h", s"SAT__EFFECTIVITY_$h") } ++
      Links.flatMap(l => Seq(s"LNK__$l", s"SAT__EFFECTIVITY_$l")) :+ "REF__TYPELISTS"
  private val BizTables: Seq[String] =
    HubAttrs.map { case (h, _) => s"PIT__$h" } :+ "REF__TYPELISTS_ACTIVE"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // set-up: DDL, repeated on fresh warehouses; then the first delivery,
    // which also warms the JVM up
    var wh: Warehouse = null
    ctx.tracer.active = false
    val reps = (0 until SetupRuns).map { rep =>
      Stats.timeMs {
        wh = new Warehouse(ctx, rep)
        wh.create()
      }._2 / 1000.0
    }
    val warmUp = Stats.timeMs(wh.deliver(wh.landNext()))._2 / 1000.0
    val setup = reps.map(_ + warmUp)

    // latency samples are original deliveries; re-sends are timed apart
    val ops = mutable.ArrayBuffer.empty[Double]
    val resendMs = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[Check]
    var failed = 0L
    var tracedStaged = 0L
    val started = System.nanoTime()
    while ((System.nanoTime() - started) / 1e9 < ctx.seconds && failed == 0) {
      val d = wh.landNext()
      ctx.tracer.active = true
      try {
        if (d.resendOf.isDefined) {
          val (ms, check) = wh.redeliver(d)
          resendMs += ms
          checks += check
        } else {
          val ms = Stats.timeMs(wh.deliver(d))._2
          ops += ms
        }
        if (ctx.tracer.recording) tracedStaged += d.rows
      } catch {
        case e: Exception =>
          e.printStackTrace()
          failed += 1
      }
      ctx.tracer.active = false
    }
    // a run too short to reach the cadence still makes (and counts) one
    // re-send, so every run's throughput mixes the same kinds of delivery
    if (resendMs.isEmpty && failed == 0) {
      val (ms, check) = wh.redeliver(wh.feed.resend())
      resendMs += ms
      checks += check
    }
    val timedS = (ops.sum + resendMs.sum) / 1000.0
    val completed = ops.size + resendMs.size

    if (failed == 0) checks ++= compareTables(spark, wh)
    val storedBytes = Disk.bytes(new File(s"${wh.root}/raw.db")) +
      Disk.bytes(new File(s"${wh.root}/biz.db"))
    val tables = (RawTables.map(n => s"${wh.root}/raw.db/${n.toLowerCase}") ++
      BizTables.map(n => s"${wh.root}/biz.db/${n.toLowerCase}")).map(new File(_))
    if (ctx.tracer.enabled) {
      ctx.tracer.active = true
      val loads = Layers.Vault.filter(_.startsWith("RawVault.load"))
        .flatMap(ctx.tracer.named).map(_.recordsWritten).sum
      if (tracedStaged > 0) ctx.tracer.gauge("RawVault.append_ratio", loads.toDouble / tracedStaged)
      tables.foreach(t => ctx.tracer.gauge("vault.files_per_table", Disk.dataFiles(t).toDouble))
    }
    val ms = ops
    val deliveries = wh.feed.deliveries.filter(_.index >= 0)
    Outcome(setup, ops.toSeq, completed, timedS, completed + failed, failed, checks.toSeq,
      Seq(
        Metric("delivery_p50_s", if (ms.isEmpty) 0 else Stats.median(ms) / 1000, "s"),
        Metric("late_delivery_p50_s",
          if (ms.isEmpty) 0 else Stats.median(Stats.lastQuarter(ms)) / 1000, "s"),
        Metric("redelivery_p50_s", if (resendMs.isEmpty) 0 else Stats.median(resendMs) / 1000, "s"),
        Metric("storage_amp", storedBytes.toDouble / wh.inputBytes, "ratio"),
        Metric("deliveries", deliveries.size, "count"),
        Metric("redeliveries", deliveries.count(_.resendOf.isDefined), "count"),
        Metric("input_rows", wh.feed.deliveries.filter(_.resendOf.isEmpty).map(_.rows).sum, "count"),
        Metric("input_bytes", wh.inputBytes.toDouble, "B"),
        Metric("files_per_table", tables.map(Disk.dataFiles).sum.toDouble / tables.size, "count")))
  }

  // ---- the independent model: loader semantics over the generated feed ----

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private val MaxTsMicros = java.time.LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000 + 999
  private def micros(ms: Long): String = (ms * 1000).toString

  /** Expected rows of every raw and business table, rendered as the
    * columns of [[columns]] joined by \u0001 (timestamps as epoch micros).
    * Models the anti-join + append loaders: a hub or link row per key at
    * its first delivery's load clock; a satellite row per (key, CDC time)
    * of CREATE/UPDATE/SNAPSHOT; an effectivity row per (key, CDC time) of
    * CREATE/DELETE/SNAPSHOT; PIT intervals closed by the next version or
    * the first later delete. */
  def expected(deliveries: Seq[Delivery]): Map[String, Seq[String]] = {
    type Keyed[V] = mutable.LinkedHashMap[(String, Long), V]
    val hubs = mutable.Map.empty[String, mutable.LinkedHashMap[String, Seq[String]]]
    val sats = mutable.Map.empty[String, Keyed[Seq[String]]]
    val effs = mutable.Map.empty[String, Keyed[Boolean]]
    val links = mutable.Map.empty[String, mutable.LinkedHashMap[String, Seq[String]]]
    val ref: Keyed[Seq[String]] = mutable.LinkedHashMap.empty
    def keyed[V](m: mutable.Map[String, Keyed[V]], n: String): Keyed[V] =
      m.getOrElseUpdate(n, mutable.LinkedHashMap.empty)
    for (d <- deliveries) {
      for ((h, evs) <- d.hubs; e <- evs) {
        val hk = md5(e.key)
        hubs.getOrElseUpdate(h, mutable.LinkedHashMap.empty)
          .getOrElseUpdate(hk, Seq(hk, micros(d.clockMs), Src, e.key))
        if (e.op != Delete)
          keyed(sats, h).getOrElseUpdate((hk, e.tsMs), Seq(hk, md5(e.attrs.mkString(",")),
            micros(e.tsMs)) ++ e.attrs.map(_.toString))
        if (e.op != Update) keyed(effs, h).getOrElseUpdate((hk, e.tsMs), e.op == Delete)
      }
      for ((l, evs) <- d.links; e <- evs) {
        val legHkeys = Seq(md5(e.from), md5(e.to))
        val hk = md5(legHkeys.mkString(","))
        links.getOrElseUpdate(l, mutable.LinkedHashMap.empty)
          .getOrElseUpdate(hk, Seq(hk, micros(d.clockMs), Src) ++ legHkeys)
        if (e.op != Update) keyed(effs, l).getOrElseUpdate((hk, e.tsMs), e.op == Delete)
      }
      for (e <- d.tiers)
        ref.getOrElseUpdate((e.key, e.tsMs), Seq("tier", e.key,
          md5(e.attrs.mkString(",")), micros(e.tsMs)) ++ e.attrs.map(_.toString))
    }
    def effRows(m: Keyed[Boolean]): Seq[Seq[String]] =
      m.toSeq.map { case ((hk, ts), del) => Seq(hk, md5(del.toString), micros(ts), del.toString) }
    def pit(h: String): Seq[Seq[String]] = {
      val deletes = effs.getOrElse(h, mutable.LinkedHashMap.empty).toSeq.collect { case ((hk, ts), true) => hk -> ts }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
      sats.getOrElse(h, mutable.LinkedHashMap.empty).keys.toSeq.groupBy(_._1).toSeq.flatMap { case (hk, versions) =>
        val ts = versions.map(_._2).sorted
        ts.zipWithIndex.map { case (t, i) =>
          val next = if (i + 1 < ts.size) Some(ts(i + 1) * 1000) else None
          val del = deletes.getOrElse(hk, Nil).find(_ > t).map(_ * 1000)
          val end = (next.toSeq ++ del.toSeq).reduceOption(_ min _).getOrElse(MaxTsMicros)
          Seq(hk, micros(t), end.toString)
        }
      }
    }
    val active = ref.values.toSeq.groupBy(_(1)).values.map(_.maxBy(_(3).toLong)).toSeq
    (HubAttrs.flatMap { case (h, _) => Seq(
      s"HUB__$h" -> hubs.get(h).toSeq.flatMap(_.values),
      s"SAT__$h" -> sats.get(h).toSeq.flatMap(_.values),
      s"SAT__EFFECTIVITY_$h" -> effs.get(h).toSeq.flatMap(effRows),
      s"PIT__$h" -> pit(h)) } ++
      Links.flatMap(l => Seq(s"LNK__$l" -> links.get(l).toSeq.flatMap(_.values),
        s"SAT__EFFECTIVITY_$l" -> effs.get(l).toSeq.flatMap(effRows))) ++
      Seq("REF__TYPELISTS" -> ref.values.toSeq, "REF__TYPELISTS_ACTIVE" -> active)
    ).map { case (k, rows) => k -> rows.map(_.mkString("\u0001")) }.toMap
  }

  /** Compared columns of a table. */
  private def columns(table: String): Seq[String] = {
    val eff = Seq(c.hkey, c.hdiff, c.loadDate, c.deleted)
    val ref = Seq(c.group, "ID", c.hdiff, c.loadDate, "typecode", "name", "L_de")
    table.split("__", 2) match {
      case Array("HUB", _) => Seq(c.hkey, c.loadDate, c.recordSource, "PublicID")
      case Array("SAT", r) if r.startsWith("EFFECTIVITY_") => eff
      case Array("SAT", h) => Seq(c.hkey, c.hdiff, c.loadDate) ++ HubAttrs.toMap.apply(h).map(_.name)
      case Array("PIT", _) => Seq(c.hkey, c.loadDate, c.loadEndDate)
      case Array("LNK", l) => Seq(c.hkey, c.loadDate, c.recordSource) ++ legs(l).map(h => s"${h}_HKEY")
      case Array("REF", _) => ref
    }
  }

  private def rendered(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(concat_ws("\u0001", cols.map { n =>
      if (df.schema(n).dataType == TimestampType) unix_micros(col(n)).cast("string")
      else col(n).cast("string")
    }: _*)).collect().map(_.getString(0)).toSeq

  /** Same row count and the same order-independent hash, table by table. */
  private def compareTables(spark: SparkSession, wh: Warehouse): Seq[Check] = {
    val want = expected(wh.feed.deliveries.toSeq)
    (RawTables.map(wh.rawDb -> _) ++ BizTables.map(wh.bizDb -> _)).map { case (db, t) =>
      val got = rendered(spark.table(s"$db.`$t`"), columns(t))
      val exp = want(t)
      def hash(rows: Seq[String]): Long =
        rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r).toLong).sum
      val ok = got.size == exp.size && hash(got) == hash(exp)
      Check(s"table_$t", ok,
        s"rows ${got.size} vs expected ${exp.size}, hash ${hash(got)} vs ${hash(exp)}" +
          (if (ok) "" else s"; missing ${exp.diff(got).take(2).mkString(" | ")}; " +
            s"extra ${got.diff(exp).take(2).mkString(" | ")}"))
    }
  }
}
