package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational operator coverage (SURVEY §2.2-§2.8) expressed as
  * oracle-checkable queries over the TPC-H-ish fixture tables.
  *
  * Determinism rules shared with the DuckDB oracle:
  *  - aggregate doubles are rounded to (or finer than) the grain of the
  *    exact result, so float summation-order differences cannot move the
  *    rounded value;
  *  - timestamps never appear raw in output: they are truncated to
  *    milliseconds and emitted as epoch-ms bigints (events.ts has
  *    shipped as both int64-ns and timestamp[us] across fixture
  *    generations — Tables.normalizeTs canonicalizes; ms truncation
  *    keeps the oracle comparison precision-independent);
  *  - every window/top-k has a total tiebreak order.
  */
object Relational {

  /** events.ts at millisecond grain, as used on both engines. */
  private def tsMs = date_trunc("MILLISECOND", col("ts"))
  private def tsMsEpoch = unix_millis(tsMs)

  /** A money double as exact integer cents (BIGINT). Both engines round
    * double→decimal via the shortest decimal string (HALF_UP), so the
    * cents agree bit-exactly; the BIGINT output type avoids DECIMAL
    * trailing-zero string-form mismatches in the gate's hash.
    */
  private def centsOf(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1/P5 + A1-style global agg: pruned scan with pushed filters.
    "q01_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // P1/P5: filter + projection, no arithmetic — values must push down
    // to the parquet scan and survive bit-exact.
    "q02_filter_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // J4/J19: dimension joins; nation/region are broadcast explicitly.
    "q03_join_broadcast" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("num_customers"),
          round(sum("c_acctbal"), 2).as("total_acctbal"))),

    // J19 star join + year() + count distinct.
    "q04_star_join" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          countDistinct(col("o_custkey")).as("num_customers"),
          count(lit(1)).as("num_orders"))),

    // J4 fact-dim join + multi-agg.
    "q05_part_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("num_items"))),

    // J1-J3 idiom: left_anti — customers with no high-value order.
    "q06_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 250000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // left_semi — customers with at least one big order.
    "q07_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")),

    // A6 distinct.
    "q08_distinct" -> ((s, d) =>
      Tables.orders(s, d).select("o_orderstatus", "o_orderpriority").distinct()),

    // J13/A2 latest-per-key via row_number (the single-shuffle form of the
    // reference's groupBy-max + self-join).
    "q09_latest_per_key" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // W1 lag window: per-user value delta. Single subtraction on identical
    // doubles is bit-deterministic — no rounding needed.
    "q10_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .withColumn("prev_value", lag("value", 1).over(w))
        .filter(col("prev_value").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("value") - col("prev_value")).as("value_delta"))
    }),

    // lead window sessionization: [ts, next ts) per user in epoch-ms.
    "q11_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsMsEpoch.as("start_ms"))
        .withColumn("end_ms", lead("start_ms", 1).over(w))
    }),

    // U1 union (positional, UNION ALL semantics).
    "q12_union" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), lit("acquisition").as("kind"))
        .union(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), lit("revenue").as("kind")))
    }),

    // P6 when/otherwise bucketing.
    "q13_case_when" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("num_orders"),
          round(sum("o_totalprice"), 2).as("total"))),

    // F1/F2 vault hashing: md5(concat_ws(',', ...)) with its null-skipping
    // behavior (nullif makes AUTOMOBILE-segment rows hash without the
    // segment — the collision semantics the reference relies on).
    "q14_hash_hkey" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          md5(concat_ws(",", col("c_custkey"), col("c_name"))).as("hkey"),
          md5(concat_ws(",", col("c_custkey"),
            nullif(col("c_mktsegment"), lit("AUTOMOBILE")))).as("hkey_nullskip"))),

    // J7-flavoured theta join: first purchase strictly after each signup.
    "q15_theta_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val signup = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("signup_event_id"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"))
      signup
        .join(purchase, col("s_user") === col("p_user") && col("p_event") > col("signup_event_id"))
        .groupBy(col("s_user").as("user_id"), col("signup_event_id"))
        .agg(min("p_event").as("first_purchase_event_id"))
    }),

    // O2 top-k with total order.
    "q18_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // The streaming window aggregation run in batch mode (same code
    // path as CdcStream.windowedCounts; watermark is a no-op in batch).
    "w01_windowed_counts" -> ((s, d) =>
      graft.streaming.CdcStream.windowedCounts(
          Tables.events(s, d), "ts", "event_type", "10 minutes", "5 minutes")
        .select(unix_millis(col("window_start")).as("ws"),
          unix_millis(col("window_end")).as("we"),
          col("event_type"), col("n_events"))),

    // Watermarked STREAM-STREAM interval join: each user's purchases
    // joined to their errors within the following 4 hours (240
    // minutes), both
    // sides real file streams (the events fixture in four
    // time-ordered slices, one micro-batch each, so no row is ever
    // late and state eviction — driven by the watermark plus the
    // join's time bound — only ever drops purchases that cannot match
    // a future error). Inner joins emit on match, so the AvailableNow
    // run's accumulated sink equals the batch interval join exactly —
    // which is what the oracle computes.
    "w06_stream_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val loc = graft.sources.Scratch.dir("w06", d)
      val raw = Tables.eventsRaw(s, d)
      // persisted: five consumers (the min/max cut aggregate + four
      // slice writes) would each re-scan and re-filter the fixture
      // otherwise (guide §5 / the C1 reused-branch pattern); released
      // before the stream starts
      val ordered = Tables.normalizeTs(raw)
        .filter(col("event_type").isin("purchase", "error"))
        .persist()
      // Slice cut points are replay scaffolding: the accumulated
      // stream result equals the batch interval join for ANY ascending
      // time cuts (inner joins emit on match and slices stay
      // time-ordered), so quarter the time range with min/max
      // aggregates — O(1) driver memory at any corpus size — each
      // quarter asserted non-empty (StreamSlices scaladoc).
      val feed = StreamSlices.writeFeed(loc, StreamSlices.guardedQuarters(
        ordered, unix_millis(col("ts")), "w06"))
      val sliceSchema = ordered.schema
      ordered.unpersist(blocking = false)
      // stateful stream: pin the state-partition count deliberately
      // instead of inheriting the batch session's shuffle.partitions
      // (see CdcStream.withStatePartitions — the store-instance count
      // is partitions x 4 stores x 2 sides x micro-batches). The whole
      // stream is BUILT on the isolated session the window provides,
      // so the pin never mutates this query's shared session.
      graft.streaming.CdcStream.withStatePartitions(s) { ss =>
        def side(tpe: String, tsName: String, idName: String) =
          ss.readStream.schema(sliceSchema)
            .option("maxFilesPerTrigger", 1).parquet(feed)
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${tpe}_user"),
              col("ts").as(tsName), col("event_id").as(idName))
            .withWatermark(tsName, "1 minute")
        val joined = side("purchase", "p_ts", "p_event_id")
          .join(side("error", "e_ts", "e_event_id"),
            col("purchase_user") === col("error_user") &&
              col("e_ts") >= col("p_ts") &&
              col("e_ts") <= col("p_ts") + expr("INTERVAL 240 MINUTES"))
          .select(col("purchase_user").as("user_id"),
            col("p_event_id"), col("e_event_id"),
            unix_millis(date_trunc("MILLISECOND", col("p_ts"))).as("p_ms"),
            unix_millis(date_trunc("MILLISECOND", col("e_ts"))).as("e_ms"))
        val q = joined.writeStream.format("parquet")
          .option("path", s"$loc/out")
          .option("checkpointLocation", s"$loc/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        StreamSlices.requireBatches(q, 4, "w06")
      }
      s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, p_event_id BIGINT, e_event_id BIGINT, " +
            "p_ms BIGINT, e_ms BIGINT"))
        .parquet(s"$loc/out")
    }),

    // Streaming sessionization gate: the events fixture replayed
    // through a REAL readStream file source (one file per micro-batch)
    // into a foreachBatch append sink — the CdcStream loader pattern —
    // then the q11 lead-window sessionization over the accumulated
    // table. Hash-matching the batch q11 oracle proves the stream →
    // table → batch-read path loses nothing and reorders nothing.
    "w02_sessionize_stream" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      // RAW file schema (whatever physical ts form the fixture carries):
      // the stream must read the bytes as stored; canonicalization
      // happens once on the accumulated table via Tables.normalizeTs —
      // the same normalization point Tables.events uses
      val schema = Tables.eventsRaw(s, d).schema
      val scratch = graft.sources.Scratch.dir("w02", d)
      // the fixture is a single parquet FILE; the file stream source
      // wants a directory, so stream the sf dir filtered to that file
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
      val q = graft.streaming.CdcStream.foreachBatchLoader(stream) { batch =>
        batch.write.mode("append").parquet(s"$scratch/events")
      }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      StreamSlices.requireBatches(q, 1, "w02")
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.normalizeTs(s.read.schema(schema).parquet(s"$scratch/events"))
        .select(col("user_id"), col("event_id"),
          unix_millis(date_trunc("MILLISECOND", col("ts"))).as("start_ms"))
        .withColumn("end_ms", lead("start_ms", 1).over(w))
    }),

    // Sketch aggregates: HLL distinct-count and approximate median.
    // Sketch internals differ per engine, so the raw estimates are not
    // oracle-comparable — instead the query emits the EXACT stats (hash-
    // checked against DuckDB) plus booleans asserting the sketch landed
    // inside its error bound, which the oracle pins to literal TRUE.
    // The estimates are deterministic for fixed data, so the booleans
    // are stable; a sketch regression flips them and fails the hash gate.
    "q21_approx_stats" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count_distinct(col("user_id")).as("exact_users"),
          approx_count_distinct("user_id").as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("amed"),
          expr("percentile(value, array(0.45, 0.55))").as("mbounds"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          // HLL default rsd = 5%; 3 sigma ≈ 15% — generous but real bound
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.15).as("hll_ok"),
          (col("amed") >= col("mbounds")(0) &&
            col("amed") <= col("mbounds")(1)).as("median_ok"))),

    // Multi-level aggregation: ROLLUP over (status, priority). Sums run
    // on exact integer cents — a double sum at grand-total magnitude is
    // not oracle-comparable even at 2-decimal rounding, and a DECIMAL
    // output column isn't either (engines disagree on trailing-zero
    // string forms: "123.40" vs "123.4"). BIGINT is unambiguous.
    "q22_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(centsOf(col("o_totalprice"))).as("total_cents"))),

    // SQL entry path (spark.sql over a registered view) with a scalar
    // subquery — max-based so the threshold is an exact selection, not
    // a float aggregate whose summation order could move a boundary row.
    "q30_scalar_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("q30_orders")
      // spark.sql analyzes eagerly (the view resolves into the plan), so
      // the view can be dropped immediately — no session-global state
      // survives the call and concurrent gate runs cannot race on it
      val out = s.sql(
        """SELECT o_orderkey, o_custkey FROM q30_orders
           WHERE o_totalprice = (SELECT max(o_totalprice) FROM q30_orders)""")
      s.catalog.dropTempView("q30_orders")
      out
    }),

    // Full outer join: per-type click vs purchase per-user counts. The
    // sides are restricted to DIFFERENT user ranges (every user has
    // both event types in the fixtures), so one-sided rows — the
    // behavior that distinguishes full_outer from inner — actually
    // occur and the null padding + coalesced key are gate-checked.
    "q28_full_outer" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def counted(t: String, n: String, u: String, m: Int) =
        ev.filter(col("event_type") === t && col("user_id") % 3 =!= m)
          .groupBy(col("user_id").as(u)).agg(count(lit(1)).as(n))
      counted("click", "n_clicks", "c_user", 0)
        .join(counted("purchase", "n_purchases", "p_user", 1),
          col("c_user") === col("p_user"), "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          col("n_clicks"), col("n_purchases"))
    }),

    // Generator: posexplode of the whitespace token stream — the
    // row-to-many lateral shape with stable ordinals.
    "q29_posexplode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis.tokens(col("text")))
            .as(Seq("pos", "token")))),

    // Window frames: per-user running purchase total (rows unbounded
    // preceding .. current) and spend-quartile bucketing — integer-cent
    // sums so the running values are exact AND the output column is
    // BIGINT (decimal outputs hash-differ across engine string forms),
    // total order via (ts, event_id).
    "q27_window_frames" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("user_total").desc, col("user_id"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          tsMsEpoch.as("ts_ms"),
          centsOf(col("value")).as("v"))
        .withColumn("running_total_cents", sum(col("v")).over(w))
      val totals = purchases.groupBy("user_id")
        .agg(sum("v").as("user_total"))
        .withColumn("quartile", ntile(4).over(wAll))
      purchases.join(totals.select("user_id", "quartile"), "user_id")
        .select(col("user_id"), col("event_id"),
          col("running_total_cents"), col("quartile"))
    }),

    // Set operators: users who clicked AND purchased (intersect), and
    // users who clicked but NEVER purchased (except) — tagged and
    // unioned into one result set.
    "q26_setops" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def users(t: String) =
        ev.filter(col("event_type") === t).select("user_id")
      val both = users("click").intersect(users("purchase"))
        .withColumn("segment", lit("click_and_purchase"))
      val onlyClick = users("click").except(users("purchase"))
        .withColumn("segment", lit("click_only"))
      both.union(onlyClick)
    }),

    // As-of join via the union-window form: every click picks up the
    // value of the user's latest purchase at or before it — one
    // exchange, no range-join explosion. Right side pre-aggregated to
    // one row per (user, ms) so the as-of pick is unambiguous.
    "q25_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          tsMsEpoch.as("ts_ms"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          tsMsEpoch.as("ts_ms"),
          col("value"))
        .groupBy("user_id", "ts_ms").agg(max("value").as("last_purchase_value"))
      graft.operators.AsOf.asofJoin(l, r, "user_id", "ts_ms",
        Seq("last_purchase_value"))
    }),

    // CUBE: all grouping-set combinations over (status, priority).
    "q24_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(centsOf(col("o_totalprice"))).as("total_cents"))),

    // Pivot: event counts per user bucketed by event type, with the
    // pivot values FIXED so no extra distinct-collect job runs and the
    // output schema is static on both engines.
    "q23_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("user_bucket", col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", Seq("signup", "purchase", "click", "view", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // Salted two-phase aggregation over a skewed key (5 event types for
    // the whole table) — must equal the plain GROUP BY the oracle runs.
    "s01_salted_agg" -> ((s, d) =>
      graft.operators.Skew.saltedSum(
          Tables.events(s, d), Seq("event_type"), "value",
          saltSource = col("event_id"), buckets = 16)
        .select(col("event_type"), round(col("value_sum"), 2).as("value_sum"))),

    // Salted replicated join over a hot fact key: lineitem salted, the
    // part dimension replicated once per salt bucket — the result must
    // equal the plain join+rollup the oracle runs (AQE's skew split
    // handles most cases; this is the explicit form for the ones it
    // cannot re-plan).
    "s02_salted_join" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"), col("l_quantity"))
      val small = Tables.part(s, d)
        .select(col("p_partkey").as("pk"), col("p_brand"))
      graft.operators.Skew.saltedJoin(big, small, "pk",
          saltSource = col("l_quantity"), buckets = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // Semi-structured extraction: numeric field out of the JSON-ish
    // props payload (regex on both engines for identical typing).
    "q20_props_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("k_total"), max("k").as("k_max"), count(lit(1)).as("n")))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_shipdate < TIMESTAMP '1999-01-01' AND l_quantity > 45""",
    "q03_join_broadcast" ->
      """SELECT n_name, count(*) AS num_customers,
         round(sum(c_acctbal), 2) AS total_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' GROUP BY 1""",
    "q04_star_join" ->
      """SELECT n_name, year(o_orderdate) AS order_year,
         round(sum(o_totalprice), 2) AS revenue,
         count(DISTINCT o_custkey) AS num_customers,
         count(*) AS num_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1, 2""",
    "q05_part_agg" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_extendedprice), 4) AS avg_price, count(*) AS num_items
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""",
    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 250000)""",
    "q07_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 200000)""",
    "q08_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q09_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
         SELECT user_id, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
         FROM events) WHERE rn = 1""",
    "q10_window_lag" ->
      """SELECT event_id, user_id, value - prev_value AS value_delta FROM (
         SELECT event_id, user_id, value,
           lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) prev_value
         FROM events) WHERE prev_value IS NOT NULL""",
    "q11_sessionize" ->
      """SELECT user_id, event_id,
         epoch_ms(date_trunc('milliseconds', ts)) AS start_ms,
         lead(epoch_ms(date_trunc('milliseconds', ts)), 1)
           OVER (PARTITION BY user_id ORDER BY event_id) AS end_ms
         FROM events""",
    "q12_union" ->
      """SELECT user_id, event_id, 'acquisition' AS kind FROM events
         WHERE event_type = 'signup'
         UNION ALL
         SELECT user_id, event_id, 'revenue' AS kind FROM events
         WHERE event_type = 'purchase'""",
    "q13_case_when" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 200000 THEN 'mid' ELSE 'high' END AS bucket,
         count(*) AS num_orders, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY 1""",
    "q14_hash_hkey" ->
      """SELECT c_custkey,
         md5(concat_ws(',', c_custkey, c_name)) AS hkey,
         md5(concat_ws(',', c_custkey, nullif(c_mktsegment, 'AUTOMOBILE'))) AS hkey_nullskip
         FROM customer""",
    "q15_theta_join" ->
      """SELECT s.user_id, s.event_id AS signup_event_id,
         min(p.event_id) AS first_purchase_event_id
         FROM events s JOIN events p
           ON p.user_id = s.user_id AND p.event_id > s.event_id
         WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
         GROUP BY 1, 2""",
    "q18_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "w02_sessionize_stream" ->
      """SELECT user_id, event_id,
         epoch_ms(date_trunc('milliseconds', ts)) AS start_ms,
         lead(epoch_ms(date_trunc('milliseconds', ts)), 1)
           OVER (PARTITION BY user_id ORDER BY event_id) AS end_ms
         FROM events""",
    // w06 = the plain batch interval join: the streamed run must
    // accumulate exactly these matches, no more (replay dupes) and no
    // fewer (wrongly-evicted state)
    "w06_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS p_event_id, e.event_id AS e_event_id,
         epoch_ms(date_trunc('milliseconds', p.ts)) AS p_ms,
         epoch_ms(date_trunc('milliseconds', e.ts)) AS e_ms
         FROM events p JOIN events e ON p.user_id = e.user_id
         WHERE p.event_type = 'purchase' AND e.event_type = 'error'
           AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 240 MINUTE""",
    "w01_windowed_counts" ->
      """SELECT epoch_ms(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP)) AS ws,
         epoch_ms(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP)) + 600000 AS we,
         event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2, 3""",
    "q22_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS total_cents
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "q30_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders)""",
    "q28_full_outer" ->
      """WITH c AS (SELECT user_id AS c_user, count(*) AS n_clicks
           FROM events WHERE event_type = 'click' AND user_id % 3 <> 0 GROUP BY 1),
         p AS (SELECT user_id AS p_user, count(*) AS n_purchases
           FROM events WHERE event_type = 'purchase' AND user_id % 3 <> 1 GROUP BY 1)
         SELECT coalesce(c_user, p_user) AS user_id, n_clicks, n_purchases
         FROM c FULL OUTER JOIN p ON c_user = p_user""",
    "q29_posexplode" ->
      """SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS token
         FROM documents,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS t(i)
         WHERE doc_id < 20""",
    "q27_window_frames" ->
      """WITH p AS (SELECT user_id, event_id,
           epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms,
           (value::DECIMAL(18,2) * 100)::BIGINT AS v
           FROM events WHERE event_type = 'purchase'),
         run AS (SELECT user_id, event_id,
           sum(v) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS running_total_cents
           FROM p),
         tot AS (SELECT user_id, ntile(4)
             OVER (ORDER BY sum(v) DESC, user_id) AS quartile
           FROM p GROUP BY user_id)
         SELECT r.user_id, r.event_id, r.running_total_cents, t.quartile
         FROM run r JOIN tot t USING (user_id)""",
    "q26_setops" ->
      """SELECT user_id, 'click_and_purchase' AS segment FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_only' AS segment FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           EXCEPT
           SELECT user_id FROM events WHERE event_type = 'purchase')""",
    "q25_asof" ->
      """WITH l AS (SELECT user_id, event_id,
           epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms,
           max(value) AS last_purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.ts_ms, r.last_purchase_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts_ms >= r.ts_ms""",
    "q24_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS total_cents
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "q23_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1""",
    "s01_salted_agg" ->
      """SELECT event_type, round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1""",
    "s02_salted_join" ->
      """SELECT p_brand, count(*) AS n,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""",
    "q20_props_extract" ->
      """SELECT event_type,
         sum(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT)::BIGINT AS k_total,
         max(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT) AS k_max,
         count(*) AS n
         FROM events GROUP BY 1""",
    // exact stats hash-check; the sketch error-bound booleans are pinned
    // to TRUE (see the query comment — estimates are deterministic).
    "q21_approx_stats" ->
      """SELECT event_type,
         count(DISTINCT user_id) AS exact_users,
         count(*) AS n,
         TRUE AS hll_ok,
         TRUE AS median_ok
         FROM events GROUP BY 1"""
  )
}
